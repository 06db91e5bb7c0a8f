"""Traced-run instrumentation, kept out of the timed runs.

Two sources feed the per-layer metrics:

- spans the benchmark records around its own calls into the engine
  (session start, registry load, each query function, the sink write,
  cache release, source registration, the parquet stream sink);
- Spark's own counters, read through listeners and status stores the
  benchmark registers: a StreamingQueryListener for micro-batch
  progress, a QueryExecutionListener for analysis/optimization/planning
  time, the SQL status store for per-node metrics and the app status
  store for jobs and tasks.

Nothing here patches the engine. With tracing off the workloads get a
``NullTracer``, whose spans do nothing.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager, nullcontext
from datetime import datetime

LAYER_METRICS = (
    "session.start_s registry.load_s construct.s construct.layer_a_s "
    "construct.layer_b_s construct.layer_c_s construct.jobs construct.sql_execs "
    "plan.s sink.noop_s cache.release_s scan.s scan.bytes shuffle.write_bytes "
    "shuffle.write_s shuffle.fetch_wait_s shuffle.partitions tasks agg.build_s "
    "agg.peak_mem_bytes spill.bytes broadcast.s codegen.s python.s python.rows "
    "python.nodes stream.batches stream.floor_s stream.add_batch_s "
    "stream.outside_batch_s state.commit_s state.rows state.mem_bytes "
    "state.instances source.kafka_shape.rows source.kafka_shape.latest_offset_s "
    "sink.parquet.add_batch_s sink.parquet.files"
).split()

# durationMs keys that make up the fixed per-micro-batch cost
FLOOR_KEYS = ("walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

# SQL node metric name -> per-layer metric it sums into
_NODE_SUMS = {
    "scan time": "scan.s",
    "size of files read": "scan.bytes",
    "shuffle bytes written": "shuffle.write_bytes",
    "shuffle write time": "shuffle.write_s",
    "fetch wait time": "shuffle.fetch_wait_s",
    "time in aggregation build": "agg.build_s",
    "spill size": "spill.bytes",
    "time to collect": "broadcast.s",
    "time to build": "broadcast.s",
    "time to broadcast": "broadcast.s",
    "time to run Python workers": "python.s",
}


def parse_metric_value(text: str) -> float:
    """'2,401' -> 2401; '16.2 MiB' -> bytes; '9 ms' -> seconds. A value
    aggregated over tasks ('5.6 s (1.3 s, ...)') yields its total."""
    head = text.strip().split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for each node of a SQL plan graph
    rendered by ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for label in re.findall(r'label="((?:[^"\\]|\\.)*)"', dot):
        lines = label.replace("\\n", "<br>").replace("<br>", "\n").split("\n")
        name = re.sub(r"</?b>", "", lines[0]).strip()
        metrics: dict[str, float] = {}
        i = 1
        while i < len(lines):
            line = lines[i].strip()
            i += 1
            if line.endswith("(stageId: taskId))") and i < len(lines):
                key = re.split(r":? total \(", line)[0]
                metrics[key] = parse_metric_value(lines[i])
                i += 1
            elif ": " in line:
                key, val = line.rsplit(": ", 1)
                try:
                    metrics[key] = parse_metric_value(val)
                except (ValueError, KeyError, IndexError):
                    continue
        nodes.append((name, metrics))
    return nodes


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


class NullTracer:
    def span(self, name: str, **attrs):
        return nullcontext()


class Tracer:
    """Spans (name, wall start/end in ms, parent index, attrs) kept in
    memory, plus windows over Spark's counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.phases: list[float] = []
        self.spark = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.time() * 1000.0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() * 1000.0

    # -- Spark-side collectors -------------------------------------------

    def attach(self, spark) -> None:
        """Register the listeners on a started session."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        class Phases:
            def onSuccess(self, func_name, qe, duration_ns):
                total = 0
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    total += it.next()._2().durationMs()
                with tracer._lock:
                    tracer.phases.append(total / 1000.0)

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self.spark = spark
        self._listener = Progress()
        spark.streams.addListener(self._listener)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._phases_listener = Phases()
        spark._jsparkSession.listenerManager().register(self._phases_listener)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def detach(self) -> None:
        if self.spark is None:
            return
        self._flush()
        self.spark.streams.removeListener(self._listener)
        self.spark._jsparkSession.listenerManager().unregister(self._phases_listener)
        self.spark = None

    def _flush(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs_after(self, job_id: int, limit: int | None = None) -> list:
        """Jobs with an id above ``job_id``, newest first."""
        jvm = self.spark.sparkContext._jvm
        it = self._app.jobsList(jvm.java.util.ArrayList()).iterator()
        jobs = []
        while it.hasNext() and (limit is None or len(jobs) < limit):
            job = it.next()
            if job.jobId() <= job_id:
                break
            jobs.append(job)
        return jobs

    def open_window(self) -> dict:
        self._flush()
        jobs = self._jobs_after(-1, limit=1)
        with self._lock:
            return {
                "spans": len(self.spans),
                "progress": len(self.progress),
                "phases": len(self.phases),
                "execs": self._sql.executionsCount(),
                "job": max((j.jobId() for j in jobs), default=-1),
            }

    def close_window(self, win: dict) -> dict[str, float]:
        """Per-layer counters for everything since ``open_window``."""
        self._flush()
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        spans = self.spans[win["spans"]:]
        construct = [s for s in spans if s["name"] == "construct"]
        for s in spans:
            dur = (s["end"] - s["start"]) / 1000.0
            if s["name"] == "construct":
                out["construct.s"] += dur
                layer = s.get("query", "")[:1]
                if layer in "abc":
                    out[f"construct.layer_{layer}_s"] += dur
            elif s["name"] == "sink.noop":
                out["sink.noop_s"] += dur
            elif s["name"] == "cache.release":
                out["cache.release_s"] += dur
        with self._lock:
            progress = self.progress[win["progress"]:]
            out["plan.s"] = sum(self.phases[win["phases"]:])

        # jobs and tasks, attributed to construction by submission time
        for job in self._jobs_after(win["job"]):
            out["tasks"] += job.numCompletedTasks()
            sub = job.submissionTime()
            t = sub.get().getTime() if sub.isDefined() else None
            if t is not None and any(s["start"] <= t <= s["end"] for s in construct):
                out["construct.jobs"] += 1

        n_exec = self._sql.executionsCount()
        execs = self._sql.executionsList(win["execs"], n_exec - win["execs"])
        peak_mem = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if any(s["start"] <= ex.submissionTime() <= s["end"] for s in construct):
                out["construct.sql_execs"] += 1
            eid = ex.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, metrics in parse_plan_dot(dot):
                for key, val in metrics.items():
                    if key in _NODE_SUMS:
                        out[_NODE_SUMS[key]] += val
                if name.startswith("WholeStageCodegen"):
                    out["codegen.s"] += metrics.get("duration", 0.0)
                if name == "AQEShuffleRead":
                    out["shuffle.partitions"] += metrics.get("number of partitions", 0.0)
                if "peak memory" in metrics:
                    peak_mem = max(peak_mem, metrics["peak memory"])
                if "time to run Python workers" in metrics:
                    out["python.nodes"] += 1
                    out["python.rows"] += metrics.get("number of output rows", 0.0)
        out["agg.peak_mem_bytes"] = peak_mem

        self._stream_counters(out, progress, spans)
        return out

    @staticmethod
    def _stream_counters(out: dict, progress: list[dict], spans: list[dict]) -> None:
        """stream.*, state.*, source.kafka_shape.* and sink.parquet.* from
        micro-batch progress events."""
        last_state: dict[str, tuple[float, float]] = {}
        batches = []
        for p in progress:
            dur = p.get("durationMs", {})
            out["stream.batches"] += 1
            out["stream.floor_s"] += sum(dur.get(k, 0) for k in FLOOR_KEYS) / 1000.0
            out["stream.add_batch_s"] += dur.get("addBatch", 0) / 1000.0
            ops = p.get("stateOperators", [])
            out["state.commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
            # the session-window operator reports 0 instances; it keeps
            # one store per state partition
            out["state.instances"] += sum(
                o.get("numStateStoreInstances") or o.get("numShufflePartitions", 0) for o in ops
            )
            if ops:
                last_state[p["runId"]] = (
                    sum(o.get("numRowsTotal", 0) for o in ops),
                    sum(o.get("memoryUsedBytes", 0) for o in ops),
                )
            # events_log is the only Python streaming source the workloads read
            if any("PythonMicroBatchStream" in s.get("description", "")
                   for s in p.get("sources", [])):
                out["source.kafka_shape.rows"] += p.get("numInputRows", 0)
                out["source.kafka_shape.latest_offset_s"] += dur.get("latestOffset", 0) / 1000.0
            if p.get("sink", {}).get("description", "").startswith("FileSink"):
                out["sink.parquet.add_batch_s"] += dur.get("addBatch", 0) / 1000.0
            start = _epoch_ms(p["timestamp"])
            batches.append((start, dur.get("triggerExecution", 0)))
        out["state.rows"] = sum(r for r, _ in last_state.values())
        out["state.mem_bytes"] = sum(m for _, m in last_state.values())
        # time inside construct / drain spans that no trigger covers,
        # counted only for spans that ran micro-batches
        for s in spans:
            if s["name"] not in ("construct", "sink.parquet"):
                continue
            inside = [d for t, d in batches if s["start"] - 5 <= t <= s["end"]]
            if inside:
                span_s = (s["end"] - s["start"]) / 1000.0
                out["stream.outside_batch_s"] += max(0.0, span_s - sum(inside) / 1000.0)
