"""Tracked persist — cache hygiene for query-internal intermediates.

Several query pipelines persist an intermediate that feeds multiple
plan branches (e.g. the shingle table in c_dedup_ngram). The queries()
contract returns LAZY DataFrames — the caller collects — so a query
cannot unpersist its own intermediate before returning (the collect
would recompute uncached). Instead every persist goes through
``persist()`` below, which records a weak reference, and session
owners (bench.py between runs, the sweep scripts, tests) call
``release_persisted()`` after their action so a long-lived session
never accumulates cached intermediates.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Serializes the before/after getPersistentRDDs() diff in
# local_checkpoint(): without it, a concurrent thread persisting at the
# same moment would have ITS new RDD appear between the two snapshots and
# be attributed to this checkpoint — then force-unpersisted by
# release_persisted() while still live. All tracked persists take the
# same lock so the diff window can only ever contain this call's RDD.
_TRACK_LOCK = threading.Lock()

# Strong references on purpose: the Python wrapper of a persisted
# intermediate goes out of scope when the query function returns (the
# returned lazy result references the JVM plan, not the wrapper), so a
# weakref would be dead by release time. The wrappers are tiny and the
# list is cleared on every release, so this never grows unboundedly.
_PERSISTED: list[DataFrame] = []


def exceeds_cap(df: DataFrame, cap: int) -> bool:
    """True when ``df`` holds more than ``cap`` rows — WITHOUT a full
    scan above the cap. The decision always equals ``df.count() > cap``.

    - ``cap < 0`` (the forced-distributed A/B knob) short-circuits.
    - When ``df``'s optimized plan is only Project and Filter nodes
      over one local-file parquet relation (e.g.
      ``load_table(...).filter(...).select(...)``), the files' footer
      ``num_rows`` are summed until the sum passes ``cap``. With no
      Filter the sum is the exact row count and answers either way;
      with a Filter it is an upper bound, so a sum <= ``cap`` answers
      False and a larger one falls through to the probe. Neither
      footer answer runs a Spark job.
    - Any other plan (aggregates, joins, generators, unions, persisted
      or streaming inputs, non-local files) runs the bounded probe
      ``count(limit(cap+1)) == min(total, cap+1)``: LocalLimit stops
      each partition at cap+1 rows and the optimizer prunes every
      column below the aggregate, so an above-cap table (the 100 TB
      case) pays a bounded probe instead of one full pass whose result
      is thrown away (guide §1.2). A global aggregate is never
      bounded by its input: over zero rows it still returns one."""
    if cap < 0:
        return True
    scan = _bare_parquet_files(df)
    if scan is not None:
        import pyarrow.parquet as pq

        files, filtered = scan
        n = 0
        for f in files:
            n += pq.read_metadata(f).num_rows
            if n > cap:
                break
        if n <= cap or not filtered:
            return n > cap
    return df.limit(cap + 1).count() > cap


def _bare_parquet_files(df: DataFrame) -> tuple[list[str], bool] | None:
    """``(paths, filtered)`` when ``df``'s optimized plan is Project and
    Filter nodes over one parquet ``LogicalRelation``: the local paths
    of the files it reads, and whether a Filter sits on the way (so
    the files' rows bound ``df``'s rows instead of equalling them);
    None for any other plan."""
    from urllib.parse import unquote, urlparse

    node = df._jdf.queryExecution().optimizedPlan()
    filtered = False
    while node.nodeName() in ("Project", "Filter"):
        filtered |= node.nodeName() == "Filter"
        node = node.child()
    if not node.getClass().getName().endswith(".LogicalRelation"):
        return None
    rel = node.relation()
    if (
        node.isStreaming()
        or not rel.getClass().getName().endswith(".HadoopFsRelation")
        or not rel.fileFormat().getClass().getName().endswith(
            ".ParquetFileFormat"
        )
    ):
        return None
    paths = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        paths.append(unquote(u.path))
    return paths, filtered


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register for later bulk release."""
    with _TRACK_LOCK:
        df = df.persist()
        _PERSISTED.append(df)
    return df


# JVM handles of RDDs cached by tracked local_checkpoint() calls.
# DataFrame.unpersist() goes through the SQL cacheManager and cannot
# free RDD-level checkpoint blocks, so these are tracked as raw py4j
# JavaRDD handles and unpersisted directly.
_CHECKPOINTED: list = []


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + register the checkpoint's cached
    RDD blocks for later bulk release.

    ``localCheckpoint`` persists at the RDD layer, which bypasses both
    the SQL cache manager and the ``_PERSISTED`` list above — without
    tracking, a NON-owner caller of ``release_persisted()`` (one that
    cannot pass ``spark``/``owner=True`` because it shares the session)
    would accumulate unreclaimable checkpoint blocks across
    invocations of queries with fixpoint/unrolled loops (connected
    components, multi-query MMR). The new RDD registers in the
    context's persistent-RDD map synchronously inside
    ``localCheckpoint`` (even with ``eager=False`` — persist() is
    immediate, only materialization is deferred), so a before/after
    diff of that map captures exactly this checkpoint's handle."""
    sc = df.sparkSession.sparkContext
    # Lock spans snapshot→checkpoint→snapshot so a concurrent tracked
    # persist/checkpoint can never land inside the diff window and have
    # its live cache claimed (then force-unpersisted) by this call.
    with _TRACK_LOCK:
        try:
            before = set(sc._jsc.getPersistentRDDs().keys())
        except Exception:  # noqa: BLE001 — py4j teardown race: degrade to untracked
            return df.localCheckpoint(eager=eager)
        out = df.localCheckpoint(eager=eager)
        try:
            for rid, jrdd in sc._jsc.getPersistentRDDs().items():
                if rid not in before:
                    _CHECKPOINTED.append(jrdd)
        except Exception:  # noqa: BLE001
            pass
    return out


def release_persisted(spark=None, *, owner: bool = False) -> int:
    """Unpersist every tracked intermediate; returns how many were
    released. Safe to call at any time — subsequent reuse of a
    released DataFrame recomputes instead of failing.

    With ``spark`` given, ALSO sweeps the JVM's persistent-RDD map:
    ``localCheckpoint`` blocks (e.g. the per-round checkpoints inside
    connected_components' fixpoint loop) never pass through
    ``persist()`` above and otherwise accumulate in a long-lived
    session until the driver cleans them by GC — measured as
    multi-second GC/eviction stalls in back-to-back bench runs. Only
    session OWNERS (bench, sweep scripts, tests) may pass spark: the
    sweep drops EVERY cached RDD left in the context — including
    DataFrames persisted by unrelated co-resident consumers of a
    shared session, which is exactly why non-owners must not pass it.
    Double-counting is avoided by sweeping the tracked list first:
    a tracked DataFrame's unpersist removes its RDD from the JVM map
    synchronously, so the map pass below only ever sees blocks the
    tracker never owned.

    The owner contract is ENFORCED, not just documented: passing
    ``spark`` requires ``owner=True``, an explicit claim that the
    caller owns the whole session — a future non-owner caller fails
    loudly here instead of silently evicting co-resident caches."""
    if spark is not None and not owner:
        raise ValueError(
            "release_persisted(spark) sweeps EVERY cached RDD in the "
            "context, including DataFrames persisted by co-resident "
            "consumers of a shared session; pass owner=True only if "
            "this caller owns the session (bench / sweep scripts / "
            "tests), or omit spark to release just the tracked list"
        )
    n = 0
    for df in _PERSISTED:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    _PERSISTED.clear()
    for jrdd in _CHECKPOINTED:
        try:
            jrdd.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    _CHECKPOINTED.clear()
    if spark is not None:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in jmap.values():
                jrdd.unpersist()
                n += 1
        except Exception:  # noqa: BLE001 — py4j/session teardown races
            pass
    return n
