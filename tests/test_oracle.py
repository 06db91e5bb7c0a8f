"""Local mirror of the driver's DuckDB-oracle correctness gate
(__spark_entry__.py docstring): for every registered query with an
oracle, run the Spark DataFrame and the DuckDB SQL on sf0.001 and
compare row count, column names, and values order-insensitively.
Approximate queries are checked against their exact DuckDB answer
within their registered bound (registry.Bound / check_bound).

Floats are compared exactly after the queries' own rounding, with a
tiny absolute tolerance only to flag genuine logic errors rather than
last-ulp noise; the real gate is the driver's hash at sf0.01.
"""

from __future__ import annotations

import math

import pytest

from demo_segmenter_spark.registry import (
    REGISTRY,
    Bound,
    check_bound,
    load_all_operators,
)
from tests.conftest import SF_SMOKE

load_all_operators()

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
BOUND_QUERIES = sorted(n for n, s in REGISTRY.items() if s.bound is not None)


def _normalize(rows, columns):
    """Sort columns by name, then rows; stringify with float rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.6f}")
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, ddb):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    cur = ddb.execute(spec.oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    _, s_norm = _normalize(s_rows, s_cols)
    _, d_norm = _normalize(d_rows, d_cols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_every_query_has_one_check():
    # a hash oracle or an error bound, never both, never neither
    unchecked = [
        n for n, s in REGISTRY.items() if (s.oracle is None) == (s.bound is None)
    ]
    assert not unchecked, unchecked


@pytest.mark.parametrize("name", BOUND_QUERIES)
def test_rows_only_runs(name, bound_result):
    # The four approximate queries were once checked by their rows
    # alone. Each still returns rows, and one row per key: check_bound
    # matches rows by key, so a duplicate key would hide a row from it.
    rows, cols, _, _ = bound_result(name)
    keys = REGISTRY[name].bound.keys
    assert rows, f"{name}: empty result"
    seen = [tuple(r[cols.index(k)] for k in keys) for r in rows]
    assert len(set(seen)) == len(seen), f"{name}: duplicate keys"
    assert all(None not in k for k in seen), f"{name}: null key"


@pytest.mark.parametrize("name", BOUND_QUERIES)
def test_bound_holds(name, bound_result):
    rows, cols, e_rows, e_cols = bound_result(name)
    assert rows and e_rows, f"{name}: empty result"
    # schema_match: the query returns its approximate columns only —
    # no exact twin, no error column
    res = check_bound(REGISTRY[name].bound, rows, cols, e_rows, e_cols)
    assert res["ok"], f"{name}: {res}"


def test_check_bound_rules():
    b = Bound(sql="", keys=("k",), recall=0.5, tol={"v": ("rel", 0.1), "w": ("abs", 1)})
    exact = [(1, 10.0, 0), (2, 0.0, 5), (3, 7.0, 7)]
    cols = ["k", "v", "w"]
    res = check_bound(b, [(1, 10.5, 0.5), (2, 0.0, 5)], cols, exact, cols)
    assert res["ok"] and res["recall"] == 2 / 3, res
    assert res["err"] == {"v": 0.05, "w": 0.5}, res
    # recall floor: one of three exact keys is below 0.5
    assert not check_bound(b, [(1, 10.0, 0), (9, 1.0, 1)], cols, exact, cols)["ok"]
    # rel tolerance is strict; a nonzero estimate of an exact 0 is inf
    assert not check_bound(b, [(1, 11.0, 0), (2, 0.0, 5)], cols, exact, cols)["ok"]
    assert not check_bound(b, [(1, 10.0, 0), (2, 0.1, 5)], cols, exact, cols)["ok"]
    # abs tolerance, and a result that renames a column
    assert not check_bound(b, [(1, 10.0, 1), (2, 0.0, 5)], cols, exact, cols)["ok"]
    assert not check_bound(b, exact, ["k", "v", "x"], exact, cols)["ok"]
