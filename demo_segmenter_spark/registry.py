"""Query registry: the single source of truth wiring SURVEY.md §2's
operator inventory to the driver contract in ``__spark_entry__.py``.

Each operator registers a callable ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, a DuckDB oracle string over the pre-registered
views (region nation customer supplier part orders lineitem events
documents embeddings). An approximate op (sketch, LSH) has no hash
oracle; it registers a ``Bound`` instead: DuckDB SQL for the exact
answer plus the error that ``check_bound`` allows against it.

Discipline enforced here by convention (SURVEY.md §5):
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates are rounded (2dp) on BOTH sides;
- raw timestamps in outputs are converted to epoch microseconds
  (Spark ``unix_micros`` == DuckDB ``epoch_us``) so ns/µs precision and
  rendering differences can't break the value hash;
- every row_number/limit has a unique-key total-order tiebreaker.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Bound:
    """Error bound of an approximate query against an exact DuckDB answer.

    ``sql`` returns the exact result under the query's own column names.
    ``keys`` identify a row in both results. ``recall`` is the least
    share of the exact result's keys the approximate result must hold.
    ``tol`` maps a column to ``("abs" | "rel", limit)``: on matched
    keys, the approximate value's error must stay below ``limit``."""

    sql: str
    keys: tuple[str, ...]
    recall: float = 1.0
    tol: dict[str, tuple[str, float]] = field(default_factory=dict)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL whose rows must hash-match
    doc: str
    bound: Bound | None = None  # approximate queries: see Bound


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, bound: Bound | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register an operator under its SURVEY.md §2 Q-name."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name, fn, oracle, (fn.__doc__ or "").strip(), bound
        )
        return fn

    return deco


def check_bound(bound: Bound, rows, cols, exact_rows, exact_cols) -> dict:
    """Measure an approximate result (``rows`` under ``cols``) against
    the exact rows of ``bound.sql`` (under ``exact_cols``). ``ok`` when
    both name the same columns, the share of exact keys found reaches
    ``bound.recall`` and every ``tol`` column's largest error on matched
    keys stays below its limit."""
    report = {
        "bound": {"keys": list(bound.keys), "recall": bound.recall, "tol": bound.tol},
        "schema_match": sorted(cols) == sorted(exact_cols),
        "ok": False,
    }
    if not report["schema_match"]:
        return report

    def by_key(rs, cs):
        cs = list(cs)
        return {tuple(r[cs.index(k)] for k in bound.keys): dict(zip(cs, r)) for r in rs}

    def err(a, e, kind):
        if kind == "abs":
            return abs(a - e)
        if e == 0:
            return 0.0 if a == 0 else math.inf
        return abs(a - e) / abs(e)

    approx, exact = by_key(rows, cols), by_key(exact_rows, exact_cols)
    hit = approx.keys() & exact.keys()
    report["recall"] = len(hit) / len(exact) if exact else 1.0
    report["err"] = {
        c: max((err(approx[k][c], exact[k][c], kind) for k in hit), default=0.0)
        for c, (kind, _) in bound.tol.items()
    }
    report["ok"] = report["recall"] >= bound.recall and all(
        report["err"][c] < lim for c, (_, lim) in bound.tol.items()
    )
    return report


def load_all_operators() -> None:
    """Import every operator module so decorators populate REGISTRY."""
    from demo_segmenter_spark.operators import layer_a, layer_b, layer_c  # noqa: F401
