#!/usr/bin/env python
"""Lane-OFF guard bench (round-13, verdict r12 ask #1): time every
block-lane-gated query with ALL lane caps forced off, so the
DISTRIBUTED chains — the actual 100 TB paths behind the round-12 block
lanes — stay measured round over round instead of being visible only
to equivalence tests. The sf0.1 contract bench cannot see them (the
fixture sits below every cap), so this artifact is the compensating
control: a regression in a distributed chain shows up here as a
timing/exchange-count diff even though the headline bench never runs
that lane.

Writes LANEOFF_r13.json: per-query wall seconds (warm, best-of-N,
noop sink, caches released between runs — the bench.py protocol) plus
the distributed plan's shuffle-exchange count. The lanes are switched
in-process by patching ``lanes.CAPS``, so no restart or env is needed.

Usage:
  python scripts/laneoff_bench.py [sf_dir] [out.json] [runs]
  python scripts/laneoff_bench.py --oracle [sf_dir] [out.json]

``--oracle`` runs full_oracle_sweep's per-query DuckDB check over
LANE_QUERIES instead, lanes forced off, and exits non-zero on any BAD
query. The session takes get_spark's defaults (``SPARK_GRAFT_CPUS``
cores, else all of them; a 16 g driver).
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demo_segmenter_spark.functions import lanes
from demo_segmenter_spark.functions.cache import release_persisted
from demo_segmenter_spark.plans.inspect import count_exchanges
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.session import get_spark

# Every lane-gated query path (headline + the non-headline members of
# each gated family).
LANE_QUERIES = [
    # graph block lane
    "b_graph_pagerank",
    "b_graph_components",
    "b_graph_bfs",
    "b_graph_sssp",
    "b_graph_kcore",
    "b_graph_triangles",
    "b_graph_community",
    # embedding block lane
    "c_embed_pca",
    "c_embed_pca_deflate",
    "c_embed_pca_project",
    "c_embed_rq",
    "c_sim_rq_adc",
    "c_embed_pq",
    "c_sim_pq_adc",
    "c_sim_kmeans",
    "c_sim_ivf_trained",
    "c_sim_ivfpq_adc",
    "c_sim_dedup_semantic",
    "c_sim_dedup_kmeans",
    "c_sim_dedup_kmeans_hybrid",
    "c_sim_lsh_native",
    # tokenizer block lanes (tok / uni)
    "c_token_bpe",
    "c_token_bpe_encode",
    "c_token_bpe_decode",
    "c_token_windows",
    "c_token_wordpiece_encode",
    "c_token_oov_encode",
    "c_token_byte_fallback",
    "c_token_byte_fallback_decode",
    "c_token_unigram_encode",
    # mixture lane
    "c_mix_doremi",
    # graph-ANN lane
    "c_sim_nndescent",
    "c_sim_graph_search",
    "c_sim_graph_layers",
    # shingle-pair lane
    "c_dedup_ngram",
    "c_pipeline_corpus",
    "c_dedup_containment",
    "c_eval_rouge",
    "c_eval_bleu",
    "c_dedup_report",
]


@contextlib.contextmanager
def lanes_off():
    """Force every block lane off (the distributed chains run) for the
    duration of the block, then restore the caps."""
    saved = dict(lanes.CAPS)
    lanes.CAPS.update(dict.fromkeys(saved, -1))
    try:
        yield
    finally:
        lanes.CAPS.update(saved)


def main() -> None:
    oracle = sys.argv[1:2] == ["--oracle"]
    if oracle:
        del sys.argv[1]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "LANEOFF_r13.json"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    load_all_operators()
    spark = get_spark(app_name="laneoff_bench")
    with lanes_off():
        if oracle:
            from full_oracle_sweep import sweep

            out_json = sys.argv[2] if len(sys.argv) > 2 else None
            sys.exit(1 if sweep(spark, sf_dir, LANE_QUERIES, out_json) else 0)
        timings(spark, sf_dir, out_path, runs)


def timings(spark, sf_dir: str, out_path: str, runs: int) -> None:
    def stamp():
        return {"loadavg": list(os.getloadavg())}

    doc = {
        "mode": "lane_off",
        "sf_dir": sf_dir,
        "runs": runs,
        "machine_before": stamp(),
        "queries": {},
        "exchanges": {},
    }
    # warm pass (codegen/planning amortized out, bench.py protocol)
    for name in LANE_QUERIES:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        release_persisted(spark, owner=True)
        spark.catalog.clearCache()
    best = {n: float("inf") for n in LANE_QUERIES}
    for _ in range(runs):
        for name in LANE_QUERIES:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
            release_persisted(spark, owner=True)
            spark.catalog.clearCache()
    for name in LANE_QUERIES:
        doc["queries"][name] = round(best[name], 3)
        try:
            doc["exchanges"][name] = count_exchanges(
                REGISTRY[name].fn(spark, sf_dir)
            )
        except Exception as e:  # noqa: BLE001 — plan dump is best-effort
            doc["exchanges"][name] = str(e)[:80]
        release_persisted(spark, owner=True)
        spark.catalog.clearCache()
    doc["total"] = round(sum(doc["queries"].values()), 3)
    doc["machine_after"] = stamp()
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"total": doc["total"], "n": len(LANE_QUERIES)}))


if __name__ == "__main__":
    main()
