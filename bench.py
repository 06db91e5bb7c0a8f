#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
get_spark's default session (local[$SPARK_GRAFT_CPUS], every core when
unset) and prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Measurement protocol (BASELINE.md):
- One UNTIMED full pass of the headline set first: janino codegen,
  stage planning, parquet footer caches, shuffle-service init are all
  amortized out, so the timed runs measure steady-state throughput —
  the number that scales to a long-lived production session. (Without
  this, the first heavy plan pays ~7 s of one-time codegen and a
  single-run bench JSON reports phantom regressions.)
- Best-of-N (default 2) timed runs per query, caches released between
  runs so no query feeds on another's persisted state. The N runs are
  INTERLEAVED (full headline pass 1, then pass 2, per-query min) so a
  transient host stall — this box shows multi-second co-tenant
  CPU-steal bursts — lands in at most one of a query's runs instead of
  poisoning both, which back-to-back repeats did.
- Machine-contention stamps (loadavg + uptime before/after) ride in the
  JSON, so a bench captured on a loaded box is identifiable as such
  from the artifact itself instead of by re-execution.
- Every query is timed with the one plan its correctness check runs:
  the approximate ANN and sketch queries return only their
  approximate columns (their error bounds are checked against DuckDB,
  registry.Bound), so there is no exact pass to exclude.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from demo_segmenter_spark.functions.cache import release_persisted
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.session import get_spark

# Representative, scale-sensitive slice of SURVEY.md §2 across layers.
# Round 2 widened the set from 20 to 26 (interval join, fuzzy dedup,
# retrieval + rerank pipelines, KPI pipeline, BM25); round 4 adds the
# two approximate-ANN queries; round 5 adds c_sim_lsh_native (its
# exact verify IS the pipeline).
HEADLINE = [
    "a_flagship_segments",
    "a_session_agg",
    "a_sessionize_stream",
    "a_tumbling_window",
    "a_pipeline_kpi",
    "a_stream_stream_join",
    "b_agg_basic",
    "b_join_inner",
    "b_multiway_star",
    "b_join_asof",
    "b_join_interval",
    "b_topk_per_group",
    "b_window_frame",
    "b_pipeline_tpch_q3",
    "c_dedup_exact",
    "c_dedup_ngram",
    "c_dedup_fuzzy",
    "c_dedup_minhash",
    "c_dedup_minhash_native",
    "c_sim_knn",
    "c_sim_lsh",
    "c_sim_lsh_native",
    "c_text_tfidf",
    "c_text_bm25",
    "c_doc_fingerprint",
    "c_pipeline_corpus",
    "c_pipeline_retrieval",
    "c_pipeline_rerank",
    "c_chunking",
    "c_dedup_cluster",
    # round 5: the unrolled iterative algorithms
    "c_sim_kmeans",
    "b_graph_pagerank",
    "b_graph_components",
    "c_embed_pca",
    "c_token_bpe",
    "a_cogroup",
    "b_graph_triangles",
    "b_graph_bfs",
    "b_graph_kcore",
    # round 6: KIP-213 FK join, LSH-blocked semantic dedup (now a
    # bounded-candidate plan worth timing), deflated second component
    "a_ktable_fk_join",
    "c_sim_dedup_semantic",
    "c_embed_pca_deflate",
    "a_ewma",  # the Arrow per-key recurrence class representative
    # round 7: corpus tokenization — the most-run LLM-pipeline job —
    # plus the trained-centroid ANN index and the canonical TPC-H scan-agg
    "c_token_bpe_encode",
    "c_sim_ivf_trained",
    "b_pipeline_tpch_q1",
    # round 7 continuation: the bipartite incremental-dedup class and
    # the keyless binned range join
    "c_dedup_incremental",
    "b_join_range_binned",
    # round 7 late wave: CEP negation pattern (one-exchange RANGE
    # window), training-context windowing riding the BPE encode chain,
    # weighted Bellman-Ford
    "a_cep_pattern",
    "c_token_windows",
    "b_graph_sssp",
    # the fused gate->scrub->pack pretraining pipeline
    "c_pipeline_pretrain",
    # round 7 fourth session: winnowing fingerprints (sliding-min
    # selection class) and the mergeable bitmap exact-distinct
    "c_fingerprint_winnow",
    "b_agg_bitmap_distinct",
    # round 8: SemDeDup on trained clusters, the unigram tokenizer
    # encode chain (train rides inside), the Lee-et-al. substring
    # rewrite pass
    "c_sim_dedup_kmeans",
    "c_token_unigram_encode",
    "c_dedup_substring_rewrite",
    # round 8 continuation: the sequential gap+cap sessionizer
    # (segmented-scan class), the continuous-aggregate composition,
    # and the RVQ encode chain
    "a_session_capped",
    "b_rollup_hierarchy",
    "c_embed_rq",
    # round 9: the IVFADC serving index, the hybrid SemDeDup recovery
    # pass, the learned NB quality scorer, and the coupled-recurrence
    # forecaster (segmented-scan class, two carried states)
    "c_sim_ivfpq_adc",
    "c_sim_dedup_kmeans_hybrid",
    "c_quality_nb",
    "a_forecast_holt",
    # round 10: the third tokenizer family's encode pass, the learned
    # mixture iteration, late-interaction re-ranking, and the
    # stateful streaming drift monitor
    "c_token_wordpiece_encode",
    "c_mix_doremi",
    "c_rag_maxsim",
    "a_drift_psi_stream",
    # round 10 continuation: binary-signature ANN (popcount class),
    # DSIR importance selection (the hashed-feature scoring class),
    # the two-round PRF retrieval pipeline, and the z-order layout
    # (global-clustering class)
    "c_sim_hamming",
    "c_select_dsir",
    "c_rag_query_expansion",
    "b_layout_zorder",
    # round 11: NN-descent graph build (checkpointed unrolled rounds),
    # the integer-replay GD classifier, the two-level quantile
    # refinement, and the held-out OOV tokenizer encode
    "c_sim_nndescent",
    "c_quality_logreg",
    "b_agg_quantile_refined",
    "c_token_oov_encode",
    "c_sim_graph_search",
    # round 12: the layered skip-edge graph serve (HNSW-class
    # construction), the lossless byte-fallback encode, the
    # sufficient-statistic streaming GD trainer, the one-stream
    # three-statistic drift dashboard, and the compaction planner
    "c_sim_graph_layers",
    "c_token_byte_fallback",
    "c_quality_logreg_stream",
    "a_drift_report_stream",
    "b_layout_compaction",
    # round 12 continuation: Kneser-Ney scoring (the three-aggregate
    # LM-model class), frequency-vote label propagation (argmax-window
    # graph rounds), the map-side bloom join pushdown, and the
    # retraction-changelog IVM stream (complete-mode signed-fold class)
    "c_quality_kneser_ney",
    "b_graph_community",
    "b_join_bloom_pushdown",
    "b_ivm_agg_stream",
]

# A run's SECONDARY timings are anchor-eligible only when that run's
# HEADLINE median drift vs the then-committed minima was below this
# bar (round-9 ADVICE): secondary rows are single-run first visits, so
# a reading minted on a 1.4x-drift day becomes an inflated minimum
# that hides a later real regression (ratio vs inflated anchor reads
# <1). Headline rows stay unconditional — they are best-of-N
# interleaved and min() across rounds can only improve them.
SECONDARY_ANCHOR_DRIFT_BAR = 1.15


def _committed_minima(sf: float, here: str | None = None) -> dict[str, float]:
    """Per-query minima across every committed bench artifact at the
    SAME sf (BENCH_r*.json driver runs + BENCH_self_*.json idle runs).
    The accumulated minimum is this box's best-known steady-state per
    query — the anchor BASELINE.md's drift protocol compares against.

    Secondary blocks are harvested ONLY from runs whose headline
    median drift was < SECONDARY_ANCHOR_DRIFT_BAR (read-time gate: the
    same-run headline band is the cleanest available proxy for how
    contended the box was during the single secondary pass). A query
    whose every visit so far happened on a drifted day simply stays
    unanchored — it shows up under `new_queries` in the drift report
    until a clean-day visit mints its first minimum."""
    import glob

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    minima: dict[str, float] = {}
    for path in glob.glob(f"{here}/BENCH_*.json"):
        # the uncommitted sidecar of the latest run is not an anchor
        if os.path.basename(path) == "BENCH_detail.json":
            continue
        try:
            with open(path) as f:
                doc = json.load(f)
            if abs(doc.get("sf", -1.0) - sf) > 1e-9:
                continue
            head_median = ((doc.get("drift") or {}).get("median_ratio"))
            sec_anchor_ok = not (
                isinstance(head_median, (int, float))
                and head_median >= SECONDARY_ANCHOR_DRIFT_BAR
            )
            sec_q = (doc.get("secondary") or {}).get("queries") or {}
            sources = [doc.get("queries") or {}]
            if sec_anchor_ok:
                sources.append(sec_q)
            for src in sources:
                for name, sec in src.items():
                    if isinstance(sec, (int, float)) and sec > 0:
                        minima[name] = min(minima.get(name, float("inf")), sec)
        except (OSError, ValueError):
            continue
    return minima


def _drift_report(timings: dict[str, float], minima: dict[str, float]) -> dict:
    """Self-adjudication (round-8 verdict ask #7): per-query ratio to
    the committed minima plus a uniform-vs-relative verdict, so a
    judge can tell environmental drift (every ratio elevated by the
    same factor — this box's documented co-tenant steal) from a real
    regression (specific queries above the pack) from the artifact
    alone. `relative` = ratio / median-ratio; queries with relative >
    1.3 land in `outliers` — on a uniformly slow run that list is
    empty even though every raw ratio is high."""
    ratios = {
        n: round(t / minima[n], 3)
        for n, t in timings.items()
        if n in minima
    }
    families: dict[str, dict] = {}
    for n, t in timings.items():
        fam = "_".join(n.split("_")[:2])
        f = families.setdefault(fam, {"n": 0, "sec": 0.0, "_ratios": []})
        f["n"] += 1
        f["sec"] = round(f["sec"] + t, 3)
        if n in ratios:
            f["_ratios"].append(ratios[n])
    for f in families.values():
        rs = sorted(f.pop("_ratios"))
        if rs:
            mid = len(rs) // 2
            f["median_ratio"] = (
                rs[mid] if len(rs) % 2 else round((rs[mid - 1] + rs[mid]) / 2, 3)
            )
        else:
            f["median_ratio"] = None
    if not ratios:
        return {
            "ratios": {},
            "median_ratio": None,
            "outliers": {},
            "families": families,
            "new_queries": sorted(n for n in timings if n not in minima),
        }
    vals = sorted(ratios.values())
    # True median (average of the two middle values when even-length):
    # taking the upper-middle element biases the drift median — and the
    # relative-outlier denominator — upward on even-length lists.
    mid = len(vals) // 2
    if len(vals) % 2:
        median = vals[mid]
    else:
        median = round((vals[mid - 1] + vals[mid]) / 2, 3)
    relative = {n: round(r / median, 3) for n, r in ratios.items()}
    return {
        "ratios": ratios,
        "median_ratio": median,
        "p25_ratio": vals[len(vals) // 4],
        "p75_ratio": vals[(3 * len(vals)) // 4],
        "outliers": {
            n: {"ratio": ratios[n], "relative": rel}
            for n, rel in relative.items()
            if rel > 1.3
        },
        "families": families,
        "new_queries": sorted(n for n in timings if n not in minima),
    }


def _secondary_set(slice_size: int = 30) -> tuple[list[str], int, int]:
    """Deterministic ROTATING secondary bench set (round-9 verdict ask
    #7): the headline set times 60/~300 registered queries; everything
    else gets an idle anchor within a handful of rounds by slicing the
    sorted non-headline registry into ~slice_size chunks and picking
    the chunk by ROUND INDEX = number of committed driver bench
    artifacts (BENCH_r*.json) — deterministic per checkout, advances
    exactly once per round, needs no clock (Date is banned in workflow
    scripts and unreliable for this anyway). Secondary queries get ONE
    timed run each (the session is already warm from the headline
    passes); their timings accumulate into the committed minima like
    headline rows, so later rotations drift-check against them."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        p
        for p in glob.glob(f"{here}/BENCH_r[0-9]*.json")
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    ]
    pool = sorted(n for n in REGISTRY if n not in HEADLINE)
    n_slices = max(1, (len(pool) + slice_size - 1) // slice_size)
    idx = len(rounds) % n_slices
    return pool[idx * slice_size : (idx + 1) * slice_size], idx, n_slices


def _machine_stamp() -> dict:
    stamp = {"loadavg": list(os.getloadavg())}
    try:
        with open("/proc/uptime") as f:
            stamp["uptime_sec"] = float(f.read().split()[0])
    except OSError:
        stamp["uptime_sec"] = None
    return stamp


def _run_once(name: str, spark, sf_dir: str) -> None:
    """One end-to-end execution through the noop sink (full computation,
    no driver-side collection cost), caches released afterwards."""
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        # queries that persist() intermediates must not leak cache
        # into later measurements (GC pressure skews the tail); the
        # spark arg also sweeps stray localCheckpoint RDD blocks
        release_persisted(spark, owner=True)
        spark.catalog.clearCache()


def _streaming_throughput(spark, sf_dir: str, target_records: int = 1_000_000) -> dict:
    """Fixed-size streaming wire-path measurement: replicate the
    events table into an append-only log of ~target_records, consume
    the whole topic through the events_log source into a parquet sink
    with exactly-once checkpointing, and report the end-to-end rate.
    The source plans the ~100 log files into at most 16 read tasks
    (its ``partitions``) of consecutive files; each task reads each of
    its files once and emits Arrow RecordBatches carrying every row's
    key-hash partition and offset. Fixed size (not sf-proportional) so the anchor is
    comparable across rounds; best-of-2 like the batch rows. Previously
    this number lived only in BASELINE.md prose (489-517k rec/s at 5M
    records) — as a bench key, a wire-path regression shows up as an
    artifact diff instead of a prose claim. ~8 s of each run is fixed
    streaming-query startup, so the 1M-record rate reads lower than
    the 5M-record marginal rate; it is a regression tripwire, not a
    peak-throughput claim."""
    import shutil

    import pyarrow.parquet as pq

    from demo_segmenter_spark.functions.scratch import scratch_dir
    from demo_segmenter_spark.sources.kafka_shape import register

    base = scratch_dir("bench_wire")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(f"{base}/log")
    t = pq.read_table(f"{sf_dir}/events.parquet")
    replicas = max(1, round(target_records / t.num_rows))
    for i in range(replicas):
        pq.write_table(t, f"{base}/log/chunk_{i:03d}.parquet")
    register(spark)
    want = t.num_rows * replicas

    best = float("inf")
    for run in range(2):
        for d in ("out", "ckpt"):
            shutil.rmtree(f"{base}/{d}", ignore_errors=True)
        t0 = time.perf_counter()
        stream = (
            spark.readStream.format("events_log")
            .option("path", f"{base}/log")
            .option("partitions", "16")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        best = min(best, time.perf_counter() - t0)
    n = spark.read.parquet(f"{base}/out").count()
    shutil.rmtree(base, ignore_errors=True)
    assert n == want, (n, want)
    return {
        "records": n,
        "sec": round(best, 3),
        "records_per_sec": round(n / best),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    load_all_operators()
    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism

    stamp_before = _machine_stamp()

    # Untimed warm-up: the FULL headline set once (see module docstring).
    # SPARK_GRAFT_BENCH_WARM=0 skips it for deliberate cold timings.
    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    if warm:
        for name in HEADLINE:
            _run_once(name, spark, sf_dir)

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    best: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _ in range(runs):
        for name in HEADLINE:
            t0 = time.perf_counter()
            _run_once(name, spark, sf_dir)
            best[name] = min(best[name], time.perf_counter() - t0)
    timings = {name: round(t, 3) for name, t in best.items()}

    # Streaming wire-path row (fixed 1M records; SPARK_GRAFT_BENCH_STREAM=0
    # skips it). Reported under its own key — the headline total stays
    # batch-only and comparable to prior rounds' anchors.
    streaming = None
    if os.environ.get("SPARK_GRAFT_BENCH_STREAM", "1") != "0":
        streaming = _streaming_throughput(spark, sf_dir)

    minima = _committed_minima(sf)
    headline_drift = _drift_report(timings, minima)

    # Rotating secondary set: one timed run per query (warm session),
    # SPARK_GRAFT_BENCH_SECONDARY=0 skips it. The block self-stamps
    # whether THIS run's headline median drift clears the anchor bar —
    # _committed_minima applies the same gate at read time, so a
    # drifted-day secondary pass is informational, never an anchor.
    secondary = None
    if os.environ.get("SPARK_GRAFT_BENCH_SECONDARY", "1") != "0":
        sec_names, rot_idx, n_slices = _secondary_set()
        sec_timings: dict[str, float] = {}
        for name in sec_names:
            t0 = time.perf_counter()
            _run_once(name, spark, sf_dir)
            sec_timings[name] = round(time.perf_counter() - t0, 3)
        head_median = headline_drift.get("median_ratio")
        secondary = {
            "rotation": rot_idx,
            "of": n_slices,
            "queries": sec_timings,
            "headline_median_ratio": head_median,
            "anchor_eligible": not (
                isinstance(head_median, (int, float))
                and head_median >= SECONDARY_ANCHOR_DRIFT_BAR
            ),
            "drift": _drift_report(sec_timings, minima),
        }

    total = round(sum(timings.values()), 3)
    full_doc = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "drift": headline_drift,
        "streaming": streaming,
        "secondary": secondary,
        "sf": sf,
        "cpus": cpus,
        "warmed": warm,
        "runs": runs,
        "machine_before": stamp_before,
        "machine_after": _machine_stamp(),
    }
    # Full artifact (3-decimal timings, per-query drift ratios, families,
    # secondary rotation, machine stamps) goes to a sidecar file; the
    # PRINTED line is kept as small as the 86 fixed query names permit.
    # Round-12 PERF lost its round-over-round comparison because the
    # driver's capture kept only the tail of a tens-of-KB line; the
    # compact line (~2.2 KB) survives any reasonable capture window.
    # Same keys the driver parses (metric/value/unit/queries/sf/cpus),
    # 2-decimal query seconds (<=0.005 s quantization; full precision in
    # the sidecar), nothing printed after it.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(here, "BENCH_detail.json")
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(full_doc, f)
    except OSError:
        detail_path = None
    compact = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "drift": {"median_ratio": headline_drift.get("median_ratio")},
        "streaming": streaming,
        "sf": sf,
        "cpus": cpus,
        "warmed": warm,
        "runs": runs,
        "detail": detail_path,
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
