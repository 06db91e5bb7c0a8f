#!/usr/bin/env python
"""Above-cap fixture bench (round-13, verdict r12 ask #1): build a
fixture that sits ABOVE the block-lane caps — embeddings replicated to
26 k vectors (> lanes.CAPS emb / nd = 20 k), lineitem replicated to
1.2 M rows (> lanes.CAPS graph = 1 M), and documents replicated to
125 k docs (> lanes.CAPS shingle = 100 k) in disjoint (lang, source)
blocks — and run the gated families on it with NO cap overrides, so
the lane gates route to the distributed chains naturally and those
chains get timed (not just row-identity-tested) every round.

The graph gates count the lineitem rows each query keeps, so on this
fixture only ``b_graph_pagerank`` (every row) is above the graph cap
and runs its chain. Components and bfs (quantity >= 48), sssp
(quantity <= 3), community and kcore (quantity >= 40) keep far fewer
rows and take their lanes. Each query's route is recorded beside its
seconds, so a lane time is never read as a chain time.

It also times two events_log drains above fixture scale, where the
source's read-task count matters (``STREAM_DRAINS``): one 400 k-row
file at 8 log partitions and 100 files at 16.

Replication is deterministic: copy r gets id-offset keys derived from
the fixture maxima, so replicas can never collide (the scale_smoke
stride lesson). Writes ABOVECAP_r13.json with per-query seconds and
routes, the drain seconds and the fixture row counts.

Usage: python scripts/abovecap_bench.py [out.json] [runs]

The session takes get_spark's defaults (``SPARK_GRAFT_CPUS`` cores,
else all of them; a 16 g driver).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from demo_segmenter_spark.functions import lanes
from demo_segmenter_spark.functions.cache import exceeds_cap, release_persisted
from demo_segmenter_spark.operators import layer_c
from demo_segmenter_spark.functions.scratch import scratch_dir
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
SRC_SMALL = "/root/testdata/sf0.01"
FIX = scratch_dir("abovecap_fixture")

EMB_QUERIES = [
    "c_embed_pca",
    "c_embed_pca_deflate",
    "c_embed_rq",
    "c_sim_kmeans",
    "c_sim_ivf_trained",
    "c_sim_ivfpq_adc",
    "c_sim_dedup_semantic",
    "c_sim_lsh_native",
    "c_sim_nndescent",
    "c_sim_graph_search",
    "c_sim_graph_layers",
]
SHINGLE_QUERIES = [
    "c_dedup_ngram",
    "c_pipeline_corpus",
    "c_dedup_containment",
    "c_eval_rouge",
    "c_eval_bleu",
    "c_dedup_report",
]
GRAPH_QUERIES = [
    "b_graph_pagerank",
    "b_graph_components",
    "b_graph_bfs",
    "b_graph_sssp",
    "b_graph_kcore",
    "b_graph_community",
]
# events_log drains where the read plan's task count matters: one large
# file (sf0.1 events x4) at 8 log partitions, and 100 small files (the
# sf0.01 events) at 16
STREAM_DRAINS = {
    "one_file_400k_p8": (SRC, 4, 1, 8),
    "files_100_p16": (SRC_SMALL, 1, 100, 16),
}


def build_fixture() -> dict:
    shutil.rmtree(FIX, ignore_errors=True)
    os.makedirs(FIX)
    counts = {}
    # embeddings x13 = 26k vectors (> 20k caps): offset vec_id per copy
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    stride = pc.max(t.column("vec_id")).as_py() + 1
    idx = t.schema.get_field_index("vec_id")
    parts = [
        t.set_column(idx, "vec_id", pc.add(t.column("vec_id"), r * stride))
        for r in range(13)
    ]
    emb = pa.concat_tables(parts)
    pq.write_table(emb, f"{FIX}/embeddings.parquet")
    counts["embeddings"] = emb.num_rows
    # lineitem x2 with offset orderkey AND partkey so the derived
    # (2*orderkey, 2*partkey+1) edge set is disjoint per copy -> ~1.18M
    # distinct edges (> lanes.CAPS["graph"])
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    ostride = pc.max(li.column("l_orderkey")).as_py() + 1
    pstride = pc.max(li.column("l_partkey")).as_py() + 1
    oi = li.schema.get_field_index("l_orderkey")
    pi = li.schema.get_field_index("l_partkey")
    parts = []
    for r in range(2):
        t2 = li.set_column(
            oi, "l_orderkey", pc.add(li.column("l_orderkey"), r * ostride)
        )
        t2 = t2.set_column(
            pi, "l_partkey", pc.add(t2.column("l_partkey"), r * pstride)
        )
        parts.append(t2)
    li2 = pa.concat_tables(parts)
    pq.write_table(li2, f"{FIX}/lineitem.parquet")
    counts["lineitem"] = li2.num_rows
    # documents x25 = 125k docs: offset doc_id, and a per-copy source
    # suffix puts each copy in its own (lang, source) blocks, so the
    # shingle pairs grow linearly with the copies
    t = pq.read_table(f"{SRC}/documents.parquet")
    stride = pc.max(t.column("doc_id")).as_py() + 1
    di = t.schema.get_field_index("doc_id")
    si = t.schema.get_field_index("source")
    parts = [
        t.set_column(
            di, "doc_id", pc.add(t.column("doc_id"), r * stride)
        ).set_column(
            si,
            "source",
            pc.binary_join_element_wise(t.column("source"), f"_r{r}", ""),
        )
        for r in range(25)
    ]
    docs = pa.concat_tables(parts)
    pq.write_table(docs, f"{FIX}/documents.parquet")
    counts["documents"] = docs.num_rows
    # everything else links to the sf0.1 originals
    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "events",
    ):
        os.symlink(f"{SRC}/{name}.parquet", f"{FIX}/{name}.parquet")
    return counts


def build_routed(name: str, spark, sf_dir: str):
    """Build query ``name`` and name its route: "lane" when one of the
    lane gates it passes (``exceeds_cap``) finds its input under the
    cap, "chain" when every one finds it above, None when it passes
    none (the nd family gates on its own vector count)."""
    answers = []

    def gate(df, cap):
        answers.append(exceeds_cap(df, cap))
        return answers[-1]

    with mock.patch.object(lanes, "exceeds_cap", gate), mock.patch.object(
        layer_c, "exceeds_cap", gate
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
    if not answers:
        return df, None
    return df, "chain" if all(answers) else "lane"


def stream_drains(spark, runs: int) -> dict:
    """Best-of-``runs`` seconds of one availableNow drain of each
    ``STREAM_DRAINS`` log through the events_log source into a parquet
    sink; every drain must commit each log row once."""
    from demo_segmenter_spark.sources.kafka_shape import register
    from demo_segmenter_spark.streaming.sinks import write_stream_parquet

    register(spark)
    out = {}
    for name, (src, copies, n_files, n_parts) in STREAM_DRAINS.items():
        base = f"{FIX}/stream_{name}"
        os.makedirs(f"{base}/log")
        t = pq.read_table(f"{src}/events.parquet")
        t = pa.concat_tables([t] * copies)
        for i in range(n_files):
            pq.write_table(t, f"{base}/log/chunk_{i:03d}.parquet")
        best = float("inf")
        for _ in range(runs):
            for d in ("out", "ckpt"):
                shutil.rmtree(f"{base}/{d}", ignore_errors=True)
            t0 = time.perf_counter()
            stream = (
                spark.readStream.format("events_log")
                .option("path", f"{base}/log")
                .option("partitions", str(n_parts))
                .load()
            )
            write_stream_parquet(
                stream, f"{base}/out", f"{base}/ckpt"
            ).awaitTermination()
            best = min(best, time.perf_counter() - t0)
            n = spark.read.parquet(f"{base}/out").count()
            assert n == t.num_rows * n_files, (name, n)
        out[name] = {
            "records": t.num_rows * n_files,
            "partitions": n_parts,
            "s": round(best, 3),
        }
        shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "ABOVECAP_r13.json"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    counts = build_fixture()
    load_all_operators()
    spark = get_spark(app_name="abovecap_bench")
    names = EMB_QUERIES + GRAPH_QUERIES + SHINGLE_QUERIES
    doc = {
        "mode": "above_cap_natural_gating",
        "fixture_rows": counts,
        "runs": runs,
        "machine_before": {"loadavg": list(os.getloadavg())},
        "queries": {},
    }
    routes = {}
    for name in names:  # warm
        df, routes[name] = build_routed(name, spark, FIX)
        df.write.format("noop").mode("overwrite").save()
        release_persisted(spark, owner=True)
        spark.catalog.clearCache()
    best = {n: float("inf") for n in names}
    for _ in range(runs):
        for name in names:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, FIX).write.format("noop").mode(
                "overwrite"
            ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
            release_persisted(spark, owner=True)
            spark.catalog.clearCache()
    doc["queries"] = {
        n: {"s": round(t, 3), "route": routes[n]} for n, t in best.items()
    }
    doc["total"] = round(sum(best.values()), 3)
    doc["stream_drains"] = stream_drains(spark, runs)
    doc["machine_after"] = {"loadavg": list(os.getloadavg())}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    shutil.rmtree(FIX, ignore_errors=True)
    print(json.dumps({"total": doc["total"], "rows": counts}))


if __name__ == "__main__":
    main()
