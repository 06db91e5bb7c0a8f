"""Invariant tests for the sampling and sketch queries whose oracles
can't pin every property (probabilistic sampling, sketch internals):
assert the invariants the docstrings promise. The error bounds of
b_agg_approx and b_agg_sketch_merge are checked against DuckDB in
tests/test_oracle.py::test_bound_holds; the two rel_err tests here
recompute the same errors by hand, as a second reading of it."""

from __future__ import annotations

from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from tests.conftest import SF_SMOKE

load_all_operators()


def _by_key(rows, cols, key):
    return {r[cols.index(key)]: dict(zip(cols, r)) for r in rows}


def test_sketch_merge_rel_err_bounded(bound_result):
    # per region, the merged HLL estimate against DuckDB's exact count
    rows, cols, e_rows, e_cols = bound_result("b_agg_sketch_merge")
    approx = _by_key(rows, cols, "n_regionkey")
    exact = _by_key(e_rows, e_cols, "n_regionkey")
    assert approx, "no regions"
    assert approx.keys() == exact.keys()
    for k, r in approx.items():
        n = exact[k]["approx_customers"]
        assert n > 0
        rel_err = abs(r["approx_customers"] - n) / n
        assert rel_err < 0.05, (k, rel_err)


def test_agg_approx_rel_err_bounded(bound_result):
    # rsd=0.02 HLL and accuracy-10000 percentile on the fixture: both
    # errors against DuckDB's count(DISTINCT) and quantile_cont(0.5)
    # must stay well inside the sketch guarantees.
    rows, cols, e_rows, e_cols = bound_result("b_agg_approx")
    approx = _by_key(rows, cols, "o_orderpriority")
    exact = _by_key(e_rows, e_cols, "o_orderpriority")
    assert approx, "no priorities"
    assert approx.keys() == exact.keys()
    for k, r in approx.items():
        n, med = exact[k]["approx_customers"], exact[k]["approx_median_price"]
        assert n > 0
        rel_err = abs(r["approx_customers"] - n) / n
        median_rel_err = abs(r["approx_median_price"] - med) / med
        assert rel_err <= 0.05, (k, rel_err)
        assert median_rel_err <= 0.05, (k, median_rel_err)


def test_weighted_sample_invariants(spark):
    df = REGISTRY["c_sample_weighted"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "empty sample"
    # HT weights are reciprocals of inclusion probabilities <= 1
    assert all(r.ht_weight >= 1.0 for r in rows)
    # deterministic: same rows on a second run (no RNG state anywhere)
    again = {r.o_orderkey for r in REGISTRY["c_sample_weighted"].fn(spark, SF_SMOKE).collect()}
    assert {r.o_orderkey for r in rows} == again
    # value-weighted: sampled orders skew rich relative to the pool
    from demo_segmenter_spark.sources import load_table
    import pyspark.sql.functions as F
    pool_avg = load_table(spark, SF_SMOKE, "orders").agg(
        F.avg("o_totalprice")
    ).first()[0]
    sample_avg = sum(r.o_totalprice for r in rows) / len(rows)
    assert sample_avg > pool_avg


def test_anomaly_zscore_flags_are_outliers(spark):
    rows = REGISTRY["a_anomaly_zscore"].fn(spark, SF_SMOKE).collect()
    assert rows, "no outliers flagged"
    assert all(r.z > 3.0 for r in rows)
    # outliers are a small fraction of the stream
    from demo_segmenter_spark.sources import load_table
    total = load_table(spark, SF_SMOKE, "events").count()
    assert len(rows) < 0.05 * total


def test_countmin_never_undercounts(spark):
    # The count-min guarantee: est >= exact for EVERY probe (min over
    # 3 hashed counters each of which includes the key's full count),
    # and equality only when no colliding key shares all 3 buckets.
    rows = REGISTRY["b_agg_countmin"].fn(spark, SF_SMOKE).collect()
    assert rows, "probe set must be non-empty"
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cm_estimate == r.exact_count + r.overestimate for r in rows)


def test_epoch_shuffle_is_decorrelated_permutation(spark):
    # each epoch is a full permutation of the corpus (every doc exactly
    # once, per-shard positions dense from 1), and epochs genuinely
    # differ: the same doc's (shard, pos) changes between epochs for
    # almost all docs (hash re-seeding), while the whole thing replays
    # deterministically (second run identical).
    from demo_segmenter_spark.operators.layer_c import SHUFFLE_EPOCHS
    from demo_segmenter_spark.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["c_dataset_epoch_shuffle"].fn(spark, SF_SMOKE).collect()
    n_docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    )
    assert len(rows) == n_docs * SHUFFLE_EPOCHS
    by_epoch: dict[int, dict[int, tuple[int, int]]] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = (r.shard, r.pos)
    assert set(by_epoch) == set(range(SHUFFLE_EPOCHS))
    for ep, docs in by_epoch.items():
        assert len(docs) == n_docs, ep  # permutation: every doc once
        # per-shard positions dense from 1
        from collections import defaultdict

        shard_pos = defaultdict(list)
        for shard, pos in docs.values():
            shard_pos[shard].append(pos)
        for shard, ps in shard_pos.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), (ep, shard)
    # decorrelation: most docs move between epoch 0 and 1
    moved = sum(
        1 for d in by_epoch[0] if by_epoch[0][d] != by_epoch[1][d]
    )
    assert moved > 0.9 * n_docs, moved
    # determinism: replay identical
    rows2 = REGISTRY["c_dataset_epoch_shuffle"].fn(spark, SF_SMOKE).collect()
    assert {tuple(r) for r in rows2} == {tuple(r) for r in rows}


def test_dpo_pairs_invariants(spark):
    # preference-pair assembly: margins non-negative (rank order),
    # chosen != rejected, no doc appears in two pairs, and every
    # (source, lang) group with >= 2 docs yields floor(n/2) pairs.
    from demo_segmenter_spark.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["c_dpo_pairs"].fn(spark, SF_SMOKE).collect()
    assert rows
    used: set[int] = set()
    for r in rows:
        assert r.margin_micro >= 0, r
        assert r.chosen_doc_id != r.rejected_doc_id
        assert r.chosen_doc_id not in used and r.rejected_doc_id not in used
        used.add(r.chosen_doc_id)
        used.add(r.rejected_doc_id)
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "source", "lang"
    ).collect()
    grp = Counter((d.source, d.lang) for d in docs)
    pairs = Counter((r.source, r.lang) for r in rows)
    for g, n in grp.items():
        assert pairs.get(g, 0) == n // 2, (g, n, pairs.get(g))


def test_countmin_stream_twin_and_mergeability(spark):
    # twin equality: the streaming sketch's probe output must match
    # the batch query's exactly (same oracle, same grid)
    got = {tuple(r) for r in REGISTRY["b_agg_countmin_stream"].fn(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in REGISTRY["b_agg_countmin"].fn(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0
    # cell-wise mergeability: sketch(all) == sketch(half1) + sketch(half2)
    # — the property that makes the grid a valid streaming/partitioned
    # state (counter updates are commutative sums)
    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_b import CM_A, CM_B, CM_P, CM_W
    from demo_segmenter_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "event_id")
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (((F.lit(a) * F.col("user_id") + b) % CM_P) % CM_W).alias("b"),
            )
            for d, (a, b) in enumerate(zip(CM_A, CM_B))
        ]
    )

    def sketch(df):
        return {
            (r["d"], r["b"]): r["c"]
            for r in df.select(F.explode(pairs).alias("p"))
            .groupBy("p.d", "p.b")
            .agg(F.count("*").alias("c"))
            .collect()
        }

    full = sketch(ev)
    h1 = sketch(ev.filter(F.col("event_id") % 2 == 0))
    h2 = sketch(ev.filter(F.col("event_id") % 2 == 1))
    merged = {k: h1.get(k, 0) + h2.get(k, 0) for k in set(h1) | set(h2)}
    assert merged == full


def test_hll_native_error_band_and_stream_twin(spark):
    # estimator quality: within the 3-sigma HLL band (sigma =
    # 1.04/sqrt(64) ~ 13%) on every type, and the linear-counting
    # switch engages exactly when the raw estimate is small
    rows = REGISTRY["b_agg_hll_native"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        rel = abs(r["hll_estimate"] - r["n_exact"]) / r["n_exact"]
        assert rel <= 3 * 1.04 / 8, (r["event_type"], rel)
        assert (r["n_zero_registers"] > 0) or r["used_linear_counting"] == 0
    # streaming twin: identical sketch (max is commutative/idempotent)
    got = {tuple(r) for r in REGISTRY["b_agg_hll_native_stream"].fn(spark, SF_SMOKE).collect()}
    assert got == {tuple(r) for r in rows}
    # register-level mergeability: sketch(all) == cellwise max of the
    # two halves' sketches — the daily-rollup union property
    from demo_segmenter_spark.operators.layer_b import _hll_registers
    from demo_segmenter_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", "event_id"
    )
    def sk(df):
        return {
            (r["event_type"], r["j"]): r["rho"]
            for r in _hll_registers(df.select("event_type", "user_id")).collect()
        }
    full = sk(ev)
    h1 = sk(ev.filter(F.col("event_id") % 2 == 0))
    h2 = sk(ev.filter(F.col("event_id") % 2 == 1))
    merged = {k: max(h1.get(k, 0), h2.get(k, 0)) for k in set(h1) | set(h2)}
    assert merged == full


def test_quantile_sketch_error_band_and_stream_twin(spark):
    # histogram-quantile guarantee: the rank-interpolated estimate
    # lives inside the covering bin, so |est - exact| <= bin width
    # (cents compared in value units) on every type and both quantiles
    from demo_segmenter_spark.operators.layer_b import QSK_W

    rows = REGISTRY["b_agg_quantile_sketch"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert abs(r["est_p50"] - r["exact_p50_cents"] / 100.0) <= QSK_W
        assert abs(r["est_p95"] - r["exact_p95_cents"] / 100.0) <= QSK_W
        assert r["est_p50"] <= r["est_p95"]
    got = {tuple(r) for r in REGISTRY["b_agg_quantile_sketch_stream"].fn(spark, SF_SMOKE).collect()}
    assert got == {tuple(r) for r in rows}
    # histogram mergeability: hist(all) == cellwise sum of the halves
    from pyspark.sql import functions as F

    from demo_segmenter_spark.functions.compat import cents
    from demo_segmenter_spark.operators.layer_b import _qsk_hist
    from demo_segmenter_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("c")
    )
    def hh(df):
        return {
            (r["event_type"], r["bin"]): r["bn"]
            for r in _qsk_hist(df).collect()
        }
    full = hh(ev)
    h1 = hh(ev.filter(F.col("event_id") % 2 == 0))
    h2 = hh(ev.filter(F.col("event_id") % 2 == 1))
    merged = {k: h1.get(k, 0) + h2.get(k, 0) for k in set(h1) | set(h2)}
    assert merged == full


def test_quantile_refined_tightens_bound_on_skew(spark):
    # Round-11 two-level refinement: (a) on the standard fixture both
    # estimates honor their bounds (flat <= QSK_W, refined <=
    # QSK_SUBW) and agree on the flat estimate with the flat query;
    # (b) on a SKEW-CRAFTED corpus (every value piled inside one
    # coarse bin) the flat grid's interpolation error is visible while
    # the refined estimate stays inside the sub-bin — strictly better.
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_b import QSK_SUBW, QSK_W
    from demo_segmenter_spark.registry import REGISTRY

    rows = REGISTRY["b_agg_quantile_refined"].fn(spark, SF_SMOKE).collect()
    assert rows
    flat = {
        r["event_type"]: r
        for r in REGISTRY["b_agg_quantile_sketch"].fn(spark, SF_SMOKE).collect()
    }
    for r in rows:
        assert abs(r["est_p50"] - r["exact_p50_cents"] / 100.0) <= QSK_W
        assert abs(r["est2_p50"] - r["exact_p50_cents"] / 100.0) <= QSK_SUBW
        assert abs(r["est_p95"] - r["exact_p95_cents"] / 100.0) <= QSK_W
        assert abs(r["est2_p95"] - r["exact_p95_cents"] / 100.0) <= QSK_SUBW
        f = flat[r["event_type"]]
        assert r["est_p50"] == f["est_p50"] and r["est_p95"] == f["est_p95"]

    # skewed corpus: 1000 events, all values in [80, 88) — ONE coarse
    # bin (bin 10) — spread non-uniformly so interpolation is off:
    # 90% of mass in [80, 80.5), the tail stretched to 87.99
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    vals = [80.0 + (i % 10) * 0.049 for i in range(900)] + [
        80.5 + (i / 100.0) * 7.4 for i in range(100)
    ]
    d = f"/tmp/dss_qsk_skew/{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(seconds=i), i % 7, "lat", v, "{}")
            for i, v in enumerate(vals)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    try:
        sk = REGISTRY["b_agg_quantile_refined"].fn(spark, d).collect()
        assert len(sk) == 1
        r = sk[0]
        for q in ("p50", "p95"):
            exact = r[f"exact_{q}_cents"] / 100.0
            err_flat = abs(r[f"est_{q}"] - exact)
            err_ref = abs(r[f"est2_{q}"] - exact)
            assert err_ref <= QSK_SUBW, (q, err_ref)
            assert err_ref < err_flat, (q, err_ref, err_flat)
    finally:
        shutil.rmtree(d, ignore_errors=True)
