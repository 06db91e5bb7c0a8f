#!/usr/bin/env python3
"""Benchmark of the segmenter engine: two workloads, closed loop, one
client, driven through the package's public entry points.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root (any directory works; paths resolve from
this file). One run:

1. generates the seeded fixture (cached per scale factor and seed under
   ``.perfbench/``, outside the timings);
2. set-up, timed as ``setup_s``: ``get_spark`` + ``load_all_operators`` +
   the first pass, which also collects every result;
3. runs a fixed number of passes, about ``--seconds`` worth at the
   workload's typical pass length (``PASS_SECONDS``), at least one;
4. checks the results collected in set-up against the DuckDB oracles,
   after the memory peak is read (the oracles run in this process);
5. prints one JSON line: with ``--trace 0`` the end-to-end metrics, with
   ``--trace 1`` the per-layer metrics: half the passes run with the
   collectors on, the rest without, for the tracing overhead.

The full record of a run (every sample, machine load and CPU steal
before and after, failures) goes to ``.perfbench/runs/``.

End-to-end metrics:
- ``setup_s``: set-up time as above.
- ``pass_s``: median wall time of a pass.
- ``query_s_geomean``: geometric mean of the per-operation medians.
- ``records_per_s``: input records a pass reads (fixture rows of the
  tables each query reads, plus generated log records) per second.
- ``lag_s_p50``: median, across the operations of a pass, of each
  operation's median time from its input being available to its result
  being complete: a query's run in the query workloads, an append
  becoming visible until its sink commit in ``stream_ingest``.

The traced run adds, beside the layers, ``lag_s_p90`` (as above, 90th
percentile) and ``peak_rss_mb``: the peak of the summed resident memory
of this process and its descendants (driver JVM, Python workers),
sampled every 0.1 s through set-up and the passes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEFAULT_SF = 0.01
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
# End-to-end metrics of an untraced run. lag_s_p90 and peak_rss_mb spread
# too much from run to run here (20-30% between quartiles) to hold a
# regression bound, so the traced run reports them with the layers.
E2E_METRICS = ("setup_s", "pass_s", "query_s_geomean", "records_per_s", "lag_s_p50")
UNITS = {
    "query_s_geomean": "s", "records_per_s": "1/s", "lag_s_p50": "s", "lag_s_p90": "s",
    "peak_rss_mb": "MB",
}


def machine_stamp() -> dict:
    """Load average and the cumulative CPU jiffies of /proc/stat."""
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "cpu_total": sum(cpu), "cpu_steal": cpu[7]}


def machine_resources() -> tuple[int, int]:
    """(cores, driver memory in MiB) of this machine: the cores this
    process may run on, and a quarter of physical memory, 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, min(4096, max(1024, total_kb // 4096))


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of this process tree (driver
    Python, JVM, Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._done.set()
        if self.is_alive():
            self.join()
        return self.peak_kb / 1024.0


def hwm_by_process(root: int) -> list[tuple[str, float]]:
    """(command, peak RSS in MB) of each live process in the tree."""
    out = []
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0))
        except (OSError, KeyError, ValueError):
            continue
    return out


def tree_rss_kb(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_KB
        except (OSError, IndexError, ValueError):
            continue
    return total


def prepare_env(work: str) -> None:
    """Python workers import the package from the checkout, whatever the
    working directory; every scratch file Spark writes stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def ensure_fixture(sf: float, seed: int) -> tuple[str, dict[str, int]]:
    from fixture import make_fixture

    path = os.path.join(STATE, "fixture", f"sf{sf:g}-seed{seed}")
    meta = os.path.join(path, "rows.json")
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        rows = make_fixture(tmp, sf, seed)
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(rows, f)
        try:
            os.rename(tmp, path)
        except OSError:  # another run won the race: same seed, same files
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta) as f:
        return path, json.load(f)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def summarize(passes: list[dict], records_per_pass: int) -> dict[str, float]:
    """End-to-end metrics of the timed passes (setup_s and memory are
    added by the caller)."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            per_op.setdefault(op["op"], []).append(op["s"])
    medians = [statistics.median(v) for v in per_op.values()]
    pass_s = statistics.median(p["wall_s"] for p in passes)
    return {
        "pass_s": pass_s,
        "query_s_geomean": math.exp(sum(math.log(m) for m in medians) / len(medians)),
        "records_per_s": records_per_pass / pass_s,
        "lag_s_p50": quantile(medians, 0.5),
        "lag_s_p90": quantile(medians, 0.9),
    }


def timed_passes(wl, n: int, failures: dict) -> list[dict]:
    """``n`` whole passes."""
    passes: list[dict] = []
    for _ in range(n):
        p0 = time.perf_counter()
        ops, _ = wl.run_pass()
        passes.append({"wall_s": time.perf_counter() - p0, "ops": ops})
        failures.update(wl.check_pass())
    return passes


def traced_passes(wl, tracer, n: int, failures: dict) -> list[dict]:
    """``n`` whole passes with Spark's counters read around each one."""
    traced: list[dict] = []
    for _ in range(n):
        win = tracer.open_window()
        p0 = time.perf_counter()
        ops, _ = wl.run_pass()
        wall = time.perf_counter() - p0
        counters = tracer.close_window(win)
        failures.update(wl.check_pass())
        counters["sink.parquet.files"] = float(wl.sink_files)
        attributed = sum(
            (s["end"] - s["start"]) / 1000.0 for s in tracer.spans[win["spans"]:]
            if s["name"] in ("construct", "cache.release") or s["name"].startswith("sink.")
        )
        counters["trace.unattributed_s"] = wall - attributed
        traced.append({"wall_s": wall, "ops": ops, "counters": counters})
    return traced


def per_layer(plain: list[dict], traced: list[dict], tracer) -> dict[str, float]:
    """Per-pass medians of the traced counters, the set-up spans and the
    tracing overhead."""
    from tracing import LAYER_METRICS

    metrics = {
        k: statistics.median(p["counters"][k] for p in traced)
        for k in (*LAYER_METRICS, "trace.unattributed_s")
    }
    for s in tracer.spans:
        if s["name"] in ("session.start", "registry.load"):
            metrics[f"{s['name']}_s"] = (s["end"] - s["start"]) / 1000.0
    metrics["trace.overhead_ratio"] = statistics.median(
        p["wall_s"] for p in traced
    ) / statistics.median(p["wall_s"] for p in plain)
    return metrics


def stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def run(args) -> dict:
    from tracing import NullTracer, Tracer

    from workloads import PASS_SECONDS, check_oracles, make_workload

    work = os.path.join(STATE, f"work-{os.getpid()}")
    prepare_env(work)
    stamp0 = machine_stamp()
    sf_dir, table_rows = ensure_fixture(args.sf, args.seed)
    cores, mem_mb = machine_resources()
    tracer = Tracer() if args.trace else NullTracer()
    failures: dict[str, str] = {}

    rss = RssSampler()
    if args.trace:
        rss.start()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from demo_segmenter_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            cpus=str(cores),
            shuffle_partitions=cores,
            driver_memory=f"{mem_mb}m",
        )
    try:
        with tracer.span("registry.load"):
            from demo_segmenter_spark.registry import load_all_operators

            load_all_operators()
        wl = make_workload(args.workload, spark, sf_dir, table_rows, args.seed, tracer, work)
        ops, results = wl.run_pass(collect=True)
        setup_s = time.perf_counter() - t0
        failures.update(wl.check_pass())

        record = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
                  "cores": cores, "driver_memory_mb": mem_mb, "setup_s": setup_s,
                  "setup_ops": ops}
        n_passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
        if not args.trace:
            passes = timed_passes(wl, n_passes, failures)
            record["passes"] = passes
            summary = summarize(passes, wl.records_per_pass)
            metrics = {k: summary[k] for k in E2E_METRICS if k in summary}
            metrics["setup_s"] = setup_s
            record.update(summary=summary, hwm_mb=hwm_by_process(os.getpid()))
        else:
            # traced half first, so later warm-up cannot hide tracing cost
            tracer.attach(spark)
            half = max(1, n_passes // 2)
            traced = traced_passes(wl, tracer, half, failures)
            tracer.detach()
            plain = timed_passes(wl, half, failures)
            record.update(plain=plain, traced=traced, progress=tracer.progress)
            metrics = per_layer(plain, traced, tracer)
            metrics["lag_s_p90"] = summarize(plain, wl.records_per_pass)["lag_s_p90"]
            metrics["peak_rss_mb"] = rss.stop()
        rss.stop()
        failures.update(check_oracles(sf_dir, results))
    finally:
        rss.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    stamp1 = machine_stamp()
    d_total = max(1, stamp1["cpu_total"] - stamp0["cpu_total"])
    record["machine"] = {
        "loadavg_before": stamp0["loadavg"],
        "loadavg_after": stamp1["loadavg"],
        "cpu_steal_share": (stamp1["cpu_steal"] - stamp0["cpu_steal"]) / d_total,
    }
    record["failures"] = failures
    attempted = len(record["setup_ops"]) + sum(
        len(p["ops"]) for key in ("passes", "plain", "traced") for p in record.get(key, [])
    )
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            k: {"value": v, "unit": UNITS.get(k) or unit_of(k)}
            for k, v in sorted(metrics.items())
        },
    }
    record["result"] = result
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}.seed{args.seed}.trace{args.trace}.{os.getpid()}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return result


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("bytes"):
        return "B"
    if metric.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "demo_segmenter_spark", "registry.py")):
        print(f"perfbench: no demo_segmenter_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {WORKLOADS}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
