"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``demo_segmenter_spark`` (see SURVEY.md §2 for
the operator inventory and provenance rules — the reference tree is
empty in this environment, SURVEY.md §0).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from demo_segmenter_spark.registry import REGISTRY, load_all_operators  # noqa: E402

load_all_operators()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Gap-sessionization (8h) of `events` → broadcast join to `customer`
    → per-market-segment session stats (SURVEY.md §7 Milestone 1).
    """
    return REGISTRY["a_flagship_segments"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB hash oracle per query. The four approximate queries are
    omitted: each registers a DuckDB error bound instead
    (registry.Bound), checked by tests/test_oracle.py."""
    return {
        name: spec.oracle
        for name, spec in sorted(REGISTRY.items())
        if spec.oracle is not None
    }
