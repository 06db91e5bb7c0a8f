#!/usr/bin/env python
"""Full-inventory oracle sweep at an arbitrary scale factor (default
sf0.1) — the round-closing gate from SURVEY.md §7: every registered
query runs on Spark AND its DuckDB oracle at a LARGER sf than the
per-query tests, catching scale-only divergence (float accumulation,
tie ordering, fixed-round under-iteration) that sf0.001 cannot.

Besides the prose summary, the sweep can write a machine-readable
per-query JSON mirroring the driver's CORRECTNESS_r{N}.json schema
(rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err). An approximate query (registry.Bound) is checked against its
exact DuckDB answer instead of hashed; its entry records the bound
checked and the measured recall and errors (``within_bound``). The
driver's own file truncates at 50 alphabetical entries; the committed
CORRECTNESS_self_r{N}_<sf>.json is the compensating control covering
ALL registered queries.

Usage: python scripts/full_oracle_sweep.py [sf_dir] [name-substrings] [out.json]
  name-substrings: comma-separated filter, or '' / '-' for all queries.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import duckdb

from demo_segmenter_spark.functions.cache import release_persisted
from demo_segmenter_spark.registry import REGISTRY, check_bound, load_all_operators
from demo_segmenter_spark.session import get_spark
from demo_segmenter_spark.sources.tables import TABLES


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = None
    if len(sys.argv) > 2 and sys.argv[2] not in ("", "-"):
        only = sys.argv[2].split(",")
    out_json = sys.argv[3] if len(sys.argv) > 3 else None
    load_all_operators()
    spark = get_spark(app_name="full_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    names = [
        n for n in sorted(REGISTRY) if not only or any(s in n for s in only)
    ]
    sys.exit(1 if sweep(spark, sf_dir, names, out_json) else 0)


def sweep(spark, sf_dir: str, names, out_json: str | None = None) -> int:
    """Run each named query on Spark and its DuckDB oracle (or its
    bound's exact SQL), print the summary and BAD lines, optionally
    write the per-query JSON, and return the BAD count."""
    from tests.test_oracle import _normalize

    ddb = duckdb.connect()
    for t in TABLES:
        ddb.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad, ok, within = [], 0, 0
    report: dict[str, dict] = {}
    t_start = time.time()
    for name in names:
        spec = REGISTRY[name]
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = rec
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            rec["spark_rows"] = len(srows)
            release_persisted(spark, owner=True)
            if spec.bound is not None:
                rel = ddb.execute(spec.bound.sql)
                drows = rel.fetchall()
                rec["oracle_rows"] = len(drows)
                res = check_bound(
                    spec.bound, srows, sdf.columns, drows, [d[0] for d in rel.description]
                )
                rec["schema_match"] = res.pop("schema_match")
                rec["within_bound"] = res
                if res["ok"]:
                    within += 1
                else:
                    bad.append((name, "BOUND", res))
                continue
            rel = ddb.execute(spec.oracle)
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
            rec["oracle_rows"] = len(drows)
            rec["rows_match"] = len(srows) == len(drows)
            rec["schema_match"] = sorted(sdf.columns) == sorted(dcols)
            a = _normalize(srows, sdf.columns)
            b = _normalize(drows, dcols)
            rec["hash_match"] = a == b
            if a == b:
                ok += 1
            else:
                bad.append((name, len(srows), len(drows)))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            rec["err"] = str(e)[:200]
            bad.append((name, "ERROR", str(e)[:160]))
    print(
        f"sweep {sf_dir} done in {time.time() - t_start:.0f}s: "
        f"{ok} hash-match, {within} within bound, {len(bad)} BAD"
    )
    for entry in bad:
        print("BAD:", entry)
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"wrote {out_json} ({len(report)} queries)")
    return len(bad)


if __name__ == "__main__":
    main()
