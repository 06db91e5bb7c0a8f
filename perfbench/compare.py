#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--json]

Each directory holds run records as ``run.py`` writes them to
``.perfbench/runs/`` (``<workload>.seed<N>.trace0.<pid>.json``); copy
the directory aside after measuring each side. Runs pair up by seed.

For every workload and end-to-end metric of ``BENCHMARK.json`` it
prints both sides' median and quartiles, the share of pairs the new side
won (ties count for neither) and a verdict:

- improved: the new side won at least 9/10 of the pairs and the medians
  differ by more than the base side's quartile distance;
- unresolved: the run-to-run spread (quartile distance over median, the
  wider side) exceeds the metric's bound, and not every new run beats
  every base run;
- worse: the new median is worse than the base median by more than the
  bound;
- no worse: otherwise.

Exits 1 when any verdict is "worse".
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(directory: str) -> dict[str, dict[int, dict[str, float]]]:
    """workload -> seed -> metric -> value, untraced correct runs only."""
    runs: dict[str, dict[int, dict[str, float]]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.trace0.*.json"))):
        with open(path) as f:
            rec = json.load(f)
        result = rec["result"]
        if not result["correct"]:
            continue
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        runs.setdefault(rec["workload"], {})[rec["seed"]] = metrics
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base: list[float], new: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_is_better: bool) -> dict:
    sign = 1.0 if lower_is_better else -1.0
    b_q1, b_med, b_q3 = quartiles(base)
    n_q1, n_med, n_q3 = quartiles(new)
    won = sum(sign * (b - n) > 0 for b, n in pairs)
    won_share = won / len(pairs) if pairs else 0.0
    spread = max((b_q3 - b_q1) / b_med, (n_q3 - n_q1) / n_med)
    worse_by = sign * (n_med - b_med) / b_med
    if won_share >= 0.9 and sign * (b_med - n_med) > (b_q3 - b_q1):
        v = "improved"
    elif spread > bound:
        all_better = all(sign * (b - n) > 0 for b in base for n in new)
        v = "no worse" if all_better else "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return {
        "base": {"q1": b_q1, "median": b_med, "q3": b_q3, "n": len(base)},
        "new": {"q1": n_q1, "median": n_med, "q3": n_q3, "n": len(new)},
        "pairs": len(pairs),
        "won_share": won_share,
        "spread": spread,
        "change": (n_med - b_med) / b_med,
        "bound": bound,
        "verdict": v,
    }


def compare(base_dir: str, new_dir: str, spec: dict) -> dict:
    base, new = load_runs(base_dir), load_runs(new_dir)
    report: dict[str, dict[str, dict]] = {}
    for workload in sorted(set(base) & set(new)):
        b_runs, n_runs = base[workload], new[workload]
        seeds = sorted(set(b_runs) & set(n_runs))
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            b_vals = [r[name] for r in b_runs.values() if name in r]
            n_vals = [r[name] for r in n_runs.values() if name in r]
            if not b_vals or not n_vals:
                continue
            pairs = [(b_runs[s][name], n_runs[s][name]) for s in seeds
                     if name in b_runs[s] and name in n_runs[s]]
            report.setdefault(workload, {})[name] = verdict(
                b_vals, n_vals, pairs, m["bound"], lower
            )
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("base_dir")
    ap.add_argument("new_dir")
    ap.add_argument("--json", action="store_true", help="print the report as JSON")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = compare(args.base_dir, args.new_dir, spec)
    if args.json:
        print(json.dumps(report, indent=1))
    else:
        print(f"{'workload':<18} {'metric':<16} {'base median [q1, q3]':>30} "
              f"{'new median [q1, q3]':>30} {'change':>8} {'won':>5} verdict")
        for workload, metrics in report.items():
            for name, r in metrics.items():
                b, n = r["base"], r["new"]
                print(f"{workload:<18} {name:<16} "
                      f"{b['median']:>12.4g} [{b['q1']:.4g}, {b['q3']:.4g}]".ljust(66)
                      + f"{n['median']:>12.4g} [{n['q1']:.4g}, {n['q3']:.4g}]".ljust(31)
                      + f"{r['change']:>+8.1%} {r['won_share']:>5.0%} {r['verdict']}")
    worse = any(r["verdict"] == "worse" for m in report.values() for r in m.values())
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
