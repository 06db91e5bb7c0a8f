"""Block lanes (demo_segmenter_spark/functions/lanes.py): for every
family in ``lanes.CAPS``, the registered queries behind that lane
return the same rows with the lane live and with the lane forced off
(``CAPS[family] = -1`` runs the distributed chain) on the sf0.001
fixture. Both lanes quantize through the same HALF_UP decimal grid,
so equal means bit-equal, floats included. The three-sf oracle sweeps
certify the same kernels against DuckDB end to end; this A/B pins
them against the Spark chains. ``np_rnd``, the one numpy twin of
``rnd()``, is pinned on knife-edge values."""

from __future__ import annotations

import numpy as np
import pytest

import demo_segmenter_spark.operators.layer_c as lc
from demo_segmenter_spark.functions import lanes
from demo_segmenter_spark.functions.cache import release_persisted
from demo_segmenter_spark.plans.inspect import explain_str
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from tests.conftest import SF_SMOKE

load_all_operators()

LANE_QUERIES = {
    "graph": [
        "b_graph_pagerank",
        "b_graph_components",
        "b_graph_community",
        "b_graph_bfs",
        "b_graph_sssp",
        "b_graph_triangles",
        "b_graph_kcore",
    ],
    "emb": [
        "c_embed_pca",
        "c_embed_pca_deflate",
        "c_embed_pca_project",
        "c_sim_kmeans",
        "c_sim_ivf_trained",
        "c_sim_dedup_semantic",
        "c_sim_dedup_kmeans",
        "c_sim_dedup_kmeans_hybrid",
        "c_sim_ivfpq_adc",
        "c_embed_rq",
        "c_sim_rq_adc",
        "c_embed_pq",
        "c_sim_pq_adc",
        "c_sim_lsh_native",
    ],
    "tok": [
        "c_token_bpe_encode",
        "c_token_windows",
        "c_token_bpe_decode",
        "c_pack_sequences_bpe",
    ],
    "uni": ["c_token_unigram", "c_token_unigram_encode"],
    "doremi": ["c_mix_doremi"],
    "nd": ["c_sim_nndescent"],
    "shingle": [
        "c_dedup_ngram",
        "c_pipeline_corpus",
        "c_dedup_containment",
        "c_eval_rouge",
        "c_eval_bleu",
        "c_dedup_report",
    ],
}

# Families whose lane shows in the returned plan as a MapInPandas node
# that the distributed chain lacks. The unigram lane's output is
# persisted and the NN-descent graph is a local checkpoint, so their
# plans do not show the route taken.
ROUTE_IN_PLAN = {"graph", "emb", "tok", "doremi", "shingle"}


def _run(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    plan = explain_str(df)
    rows = sorted(tuple(r) for r in df.collect())
    release_persisted(spark, owner=True)
    return plan, rows


@pytest.mark.parametrize("family", sorted(lanes.CAPS))
def test_block_lane_matches_distributed_lane(spark, monkeypatch, family):
    for q in LANE_QUERIES[family]:
        plan, got = _run(spark, q)
        assert got, q  # sanity: the lane produced rows
        with monkeypatch.context() as m:
            m.setitem(lanes.CAPS, family, -1)
            ref_plan, ref = _run(spark, q)
        if family in ROUTE_IN_PLAN:
            assert "MapInPandas" in plan, q
            assert "MapInPandas" not in ref_plan, q
        assert got == ref, q


@pytest.mark.parametrize(
    "n, x, want",
    [
        # .5e-6 rounds up (away from zero); the EPS nudge must not flip
        # values clearly below the boundary
        (
            6,
            [0.1234565, 0.123456049, 1.0, 0.15],
            [0.123457, 0.123456, 1.0, 0.15],
        ),
        # .5 at 4dp rounds up; -0.00004 + eps -> -0.0 is normalized to 0.0
        (4, [0.12345, 0.1234449, -0.00004, 1.0], [0.1235, 0.1234, 0.0, 1.0]),
        # micro-unit cosines (NN-descent's sm): x * 1e6 at 0dp; the last
        # lands a hair under .5 after the nudge (Decimal-audit path)
        (
            0,
            [2.5e-6, -2.5e-6, 0.1234565, 1.0, -4.9e-7, 4.999e-7],
            [3.0, -2.0, 123457.0, 1_000_000.0, 0.0, 0.0],
        ),
    ],
    ids=["n6", "n4", "n0"],
)
def test_np_rnd_matches_spark_half_up_knife_edges(n, x, want):
    x = np.array(x)
    scaled = x * 1_000_000.0 if n == 0 else x
    out = lanes.np_rnd(n)(scaled)
    assert out.tolist() == want
    assert not np.signbit(out[out == 0]).any()  # no negative zero
    if n == 0:
        sm_of, _, _ = lc._nd_block_fns()
        assert sm_of(x).tolist() == out.astype(np.int64).tolist()
