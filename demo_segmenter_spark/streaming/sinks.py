"""Streaming sinks — the Kafka-producer twin (SURVEY.md §2 Layer A
"Sink" row). Production shape: writeStream → kafka/delta with
checkpointing; here a foreachBatch parquet writer, which is also the
pattern for idempotent multi-table sinks at scale (batchId-based
dedup on replay)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from demo_segmenter_spark.streaming.sources import stream_state_parts


def run_to_memory(
    df: DataFrame, mode: str, state_parts: int | None = None
) -> DataFrame:
    """Drain a streaming DataFrame to completion (AvailableNow) into a
    memory sink under ``outputMode(mode)``; return the sink's table.

    ``state_parts`` pins the stream's state-partition count
    (``stream_state_parts``); None runs at the caller's
    ``spark.sql.shuffle.partitions``. The pin is held only across
    ``start()``: the query clones the session conf when it starts, so
    the caller's conf is back before the first batch runs.

    The sink's ``mem_<uuid8>`` temp view is dropped once the returned
    DataFrame has resolved it: the DataFrame keeps the sink's rows, and
    the session no longer pins them (one view per call would otherwise
    live as long as the session)."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:8]}"
    w = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if state_parts is None:
        q = w.start()
    else:
        with stream_state_parts(spark, parts=state_parts):
            q = w.start()
    q.awaitTermination()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def write_stream_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Append a streaming DataFrame to parquet, exactly-once via the
    file-sink commit log, under an AvailableNow trigger. A Python
    DataSource such as ``events_log`` gets Spark's fallback of one
    batch per start, so a start that replays an uncommitted batch
    leaves appended rows to the next start (sources/kafka_shape.py)."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_stream_foreach_batch(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """foreachBatch variant: gives the batch DataFrame + batchId for
    idempotent custom sinks (upserts, multi-sink fan-out)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(f"{out_dir}/batch={batch_id}")

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cdc_upsert_sink(
    path: str,
    key_cols: list[str],
    order_col: str,
    return_merged: bool = False,
):
    """Streaming CDC upsert into the versioned-manifest table — the
    lakehouse MERGE story composed from two proven parts: b_upsert's
    last-writer-wins priority merge (operators/layer_b.py) applied per
    micro-batch, committed through the jsonl_dir snapshot protocol
    (sources/python_source.py) so every micro-batch is one IMMUTABLE
    snapshot version with time travel across batches.

    Returns a foreachBatch callable. Semantics per batch:

    1. IDEMPOTENCE GATE: the latest manifest carries the batch_id that
       minted it. foreachBatch is at-least-once — after a crash between
       manifest commit and checkpoint commit, the SAME batch replays
       with the SAME batch_id; seeing batch_id <= last committed, the
       sink returns without writing, so a replay can never mint a
       duplicate snapshot. (Exactly-once = at-least-once delivery +
       idempotent commit, the standard foreachBatch contract.)
    2. In-batch compaction: multiple CDC rows for one key collapse to
       the max-``order_col`` row (version column; total order required).
    3. MERGE: batch rows override current-snapshot rows per key
       (union + priority row_number — the same rewrite Delta/Iceberg
       compile MERGE into), then the merged table is committed as one
       copy-on-write overwrite snapshot.

    Scale: the merge is one shuffle on the key; copy-on-write rewrites
    the table per batch, which is the correct model for a demo-scale
    jsonl sink — a partitioned production table would prune the
    rewrite to touched key-buckets, same plan shape.

    ``return_merged`` (round-12, guide §1.2): a caller that needs the
    post-merge state in the SAME batch (the fk-join emit joins) used
    to re-read the store it just wrote — one extra full jsonl parse
    per store per batch. With return_merged=True the sink persists the
    merged table (already materialized by the snapshot write) and the
    per-batch callable returns it; the caller unpersists when done.
    On the idempotent-replay path (batch already committed) it returns
    None and the caller falls back to reading the committed store."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from demo_segmenter_spark.sources.python_source import (
        latest_manifest,
        manifest_files,
    )

    def sink(batch_df: DataFrame, batch_id: int):
        prev = latest_manifest(path)
        if (
            prev is not None
            and prev.get("batch_id") is not None
            and batch_id <= prev["batch_id"]
        ):
            return None  # replayed micro-batch: snapshot already committed
        spark = batch_df.sparkSession
        # Total-order compaction: order_col alone leaves a nondeterministic
        # winner when two CDC rows for one key share the same version, so
        # every remaining column (sorted by name) joins the sort key — the
        # repo-wide tiebreak discipline. Any deterministic total order is a
        # valid last-writer-wins rule for tied versions.
        tiebreak = [
            F.col(c).desc_nulls_last()
            for c in sorted(batch_df.columns)
            if c not in key_cols and c != order_col
        ]
        wk = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), *tiebreak
        )
        # persist: the anti-join merge references the compacted delta
        # twice (rows + broadcast key set) — without this the window
        # and everything ABOVE the batch (e.g. the fk-join emit plan)
        # evaluates twice per store per batch
        compacted = (
            batch_df.withColumn("_rn", F.row_number().over(wk))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        ).persist()
        base_files = manifest_files(path) if prev is not None else []
        if base_files:
            base = spark.read.schema(batch_df.schema).json(base_files)
            # Round-12 (guide §3.1/§2.4): the priority merge used to
            # union the whole store under a per-key row_number window —
            # shuffling the STORE side (corpus-scale) on every
            # micro-batch. The same last-writer-wins result is the
            # broadcast ANTI-join form: batch rows win their keys, base
            # rows survive only for untouched keys. The delta's key set
            # is micro-batch-sized and broadcasts, so the store is
            # scanned but never shuffled — the actual RocksDB-merge
            # cost model the docstring promises.
            merged = compacted.unionByName(
                base.join(
                    F.broadcast(compacted.select(*key_cols).distinct()),
                    key_cols,
                    "left_anti",
                )
            )
        else:
            merged = compacted
        # Commit through the JVM-writer snapshot twin (same manifest
        # protocol; guide §4 — the Python DataSource write cost the
        # stream ~0.5-8 s per store per batch) with a bounded file
        # count (guide §6 small-files: the delta ∪ untouched-base
        # union would otherwise grow the per-snapshot file count every
        # batch). A production table would be bucketed by key with
        # per-bucket rewrites.
        from demo_segmenter_spark.sources.python_source import (
            fast_snapshot_write,
        )

        if return_merged:
            # coalesce + persist ONCE: the snapshot write materializes
            # this cache and the caller's emit joins reuse it — zero
            # recomputation of the merge (and zero store re-parse)
            merged = merged.coalesce(8).persist()
        try:
            fast_snapshot_write(
                merged, path, batch_id=batch_id, pre_persisted=return_merged
            )
        finally:
            compacted.unpersist()
        return merged if return_merged else None

    return sink


def write_stream_cdc_upsert(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
):
    """Run a CDC change stream into the versioned manifest table to
    completion (AvailableNow): one snapshot version per micro-batch,
    idempotent on replay by batchId."""
    return (
        df.writeStream.foreachBatch(cdc_upsert_sink(path, key_cols, order_col))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def scd2_sink(path: str, key_col: str, attr_col: str):
    """Streaming SCD TYPE-2 dimension maintenance — the other half of
    the lakehouse-CDC story next to cdc_upsert_sink (which keeps only
    the latest row per key; this keeps the full validity history):
    every change row [key, attr, ts] CLOSES the key's open interval at
    its timestamp and opens a new current one, so the table is always
    the (valid_from_us, valid_to_us, is_current) interval form
    b_scd2_intervals builds in batch.

    Per micro-batch (idempotent by batch_id through the same manifest
    gate as cdc_upsert_sink):

    1. CLOSED history rows pass through untouched — SCD2 history is
       immutable once closed.
    2. The ACTIVE set = each key's open row + the batch's change rows,
       re-chained per key by one lead() window: all but the newest row
       close (valid_to = successor's valid_from), the newest stays
       open. A batch with several changes for one key therefore mints
       the full interval chain, and a late row older than the open row
       interleaves with it (closed history is never rewritten — the
       documented SCD2 late-data semantics).
    3. Commit = one copy-on-write snapshot through the jsonl_dir
       manifest protocol (version per batch, time travel across
       dimension states).

    Scale: the re-chain shuffles only open+changed rows on the key,
    never the closed history; at 100 TB the history pass-through is a
    file-manifest copy, not a data rewrite."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from demo_segmenter_spark.sources.python_source import (
        latest_manifest,
        manifest_files,
    )

    TABLE_SCHEMA = (
        f"{key_col} long, {attr_col} string, valid_from_us long,"
        " valid_to_us long, is_current long"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        prev = latest_manifest(path)
        if (
            prev is not None
            and prev.get("batch_id") is not None
            and batch_id <= prev["batch_id"]
        ):
            return  # replayed micro-batch: snapshot already committed
        spark = batch_df.sparkSession
        changes = batch_df.select(
            key_col,
            attr_col,
            F.col("ts_us").alias("valid_from_us"),
        )
        if prev is not None:
            cur = spark.read.schema(TABLE_SCHEMA).json(manifest_files(path))
            closed = cur.filter(F.col("is_current") == 0)
            active = cur.filter(F.col("is_current") == 1).select(
                key_col, attr_col, "valid_from_us"
            ).unionByName(changes)
        else:
            closed = None
            active = changes
        # attr_col breaks ties on equal valid_from_us: without it two
        # same-timestamp changes for one key chain in nondeterministic
        # order (the lead() successor differs run to run). With it the
        # chain is a deterministic total order; tied-timestamp rows mint
        # zero-length intervals, which is the documented SCD2 semantics
        # for simultaneous changes.
        w = Window.partitionBy(key_col).orderBy("valid_from_us", attr_col)
        rechained = active.select(
            key_col,
            attr_col,
            "valid_from_us",
            F.coalesce(F.lead("valid_from_us").over(w), F.lit(0)).alias(
                "valid_to_us"
            ),
            F.when(F.lead("valid_from_us").over(w).isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_current"),
        )
        merged = (
            closed.unionByName(rechained) if closed is not None else rechained
        )
        # Commit through the one-job snapshot twin (same manifest
        # protocol as the jsonl_dir sink; guide §4 — the Python
        # DataSource save cost ~0.5 s per micro-batch)
        from demo_segmenter_spark.sources.python_source import (
            fast_snapshot_write,
        )

        fast_snapshot_write(merged, path, batch_id=batch_id)

    return sink


def write_stream_scd2(
    df: DataFrame, path: str, checkpoint_dir: str, key_col: str, attr_col: str
):
    """Run a change stream into the SCD2 dimension to completion
    (AvailableNow): one snapshot version per micro-batch."""
    return (
        df.writeStream.foreachBatch(scd2_sink(path, key_col, attr_col))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
