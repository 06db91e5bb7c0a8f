#!/usr/bin/env python
"""Interleaved A/B of block-lane vs distributed-lane wall time for the
round-12 lane queries (guide §1 protocol: warm pass first, noop sink,
interleaved best-of-N so a host stall lands in at most one run of a
configuration). Ad-hoc measurement tool — not part of the bench
contract.

Usage: python scripts/ab_lane.py [sf_dir] [name ...]
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demo_segmenter_spark.functions.cache import release_persisted
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.session import get_spark
from laneoff_bench import lanes_off

DEFAULT = [
    "b_graph_components",
    "b_graph_bfs",
    "b_graph_sssp",
    "b_graph_triangles",
    "c_embed_pca",
    "c_embed_pca_deflate",
    "c_embed_pca_project",
    "c_sim_kmeans",
    "c_sim_ivf_trained",
    "c_sim_ivfpq_adc",
    "c_sim_dedup_semantic",
    "c_sim_dedup_kmeans",
    "c_sim_dedup_kmeans_hybrid",
    "c_mix_doremi",
]


def run_once(name: str, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    release_persisted(spark, owner=True)
    spark.catalog.clearCache()
    return dt


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT
    load_all_operators()
    spark = get_spark(app_name="ab_lane", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # warm both configurations once (codegen, parquet footers)
    for name in names:
        for on in (True, False):
            with contextlib.nullcontext() if on else lanes_off():
                run_once(name, spark, sf_dir)
    best: dict[tuple[str, bool], float] = {}
    for _ in range(2):
        for name in names:
            for on in (True, False):
                spark.sparkContext.setJobDescription(
                    f"ab {name} lane={'on' if on else 'off'}"
                )
                with contextlib.nullcontext() if on else lanes_off():
                    dt = run_once(name, spark, sf_dir)
                k = (name, on)
                best[k] = min(best.get(k, float("inf")), dt)
    print(f"\n{'query':34s} {'lane_on':>8s} {'lane_off':>9s}  verdict")
    for name in names:
        on, off = best[(name, True)], best[(name, False)]
        verdict = "WIN" if on < off else "LOSS"
        print(f"{name:34s} {on:8.2f} {off:9.2f}  {verdict}")


if __name__ == "__main__":
    main()
