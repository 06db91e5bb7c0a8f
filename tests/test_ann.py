"""Approximate-NN quality gates: the IVF and LSH variants must find a
meaningful share of the exact brute-force top-k neighborhood. (The
registered recall bounds of c_sim_lsh and c_dedup_minhash are checked
against DuckDB in tests/test_oracle.py::test_bound_holds; the two
tests here that read the DuckDB answer recompute them by hand.)"""

from __future__ import annotations

from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from tests.conftest import SF_SMOKE

load_all_operators()


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_ivf_recall_vs_exact(spark):
    exact = _pairs(REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE))
    approx = _pairs(REGISTRY["c_sim_ivf"].fn(spark, SF_SMOKE))
    assert approx, "IVF returned no neighbors"
    # IVF searches one cluster only; still must overlap the true top-5.
    assert len(approx & exact) / len(approx) >= 0.3


def test_trained_ivf_recall_beats_fixed_ivf(spark):
    # c_sim_ivf_trained (learned centroids, nprobe=2) vs exact top-5:
    # the trained+multiprobe form must recall at least as much of the
    # exact neighborhood per returned pair as the fixed-centroid
    # nprobe=1 form — the claim that motivated round-6 ask #4.
    exact = _pairs(REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE))
    fixed = _pairs(REGISTRY["c_sim_ivf"].fn(spark, SF_SMOKE))
    trained = _pairs(REGISTRY["c_sim_ivf_trained"].fn(spark, SF_SMOKE))
    assert trained, "trained IVF returned no neighbors"
    prec_fixed = len(fixed & exact) / len(fixed)
    prec_trained = len(trained & exact) / len(trained)
    assert prec_trained >= prec_fixed, (prec_trained, prec_fixed)
    # nprobe=2 must actually widen the candidate space: every query
    # returns rows, and per-query k is bounded by KNN_K
    per_q = (
        REGISTRY["c_sim_ivf_trained"].fn(spark, SF_SMOKE)
        .groupBy("query_id").count().collect()
    )
    assert all(r["count"] <= 5 for r in per_q)
    assert len(per_q) == 50  # every query answered


def test_int8_knn_recall_vs_exact(spark):
    # quantized-code kNN must recover nearly all of the exact float
    # top-5: int8 scalar quantization at 64 dims costs ~0.4% range
    # resolution per element, far below the fixture's neighbor gaps.
    exact = _pairs(REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE))
    q8 = _pairs(REGISTRY["c_sim_knn_int8"].fn(spark, SF_SMOKE))
    assert q8, "int8 kNN returned no neighbors"
    assert len(q8 & exact) / len(exact) >= 0.9, len(q8 & exact) / len(exact)


def test_lsh_recall_vs_exact(spark):
    exact = _pairs(REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE))
    approx = _pairs(REGISTRY["c_sim_lsh"].fn(spark, SF_SMOKE))
    assert approx, "LSH returned no neighbors"
    hits = len(approx & exact)
    assert hits / len(approx) >= 0.5, f"LSH precision too low: {hits}/{len(approx)}"


def test_lsh_bounded_k(spark):
    df = REGISTRY["c_sim_lsh"].fn(spark, SF_SMOKE)
    per_q = df.groupBy("query_id").count().collect()
    assert all(r["count"] <= 3 for r in per_q)


def _bound_pairs(rows, cols, a, b):
    return {(r[cols.index(a)], r[cols.index(b)]): dict(zip(cols, r)) for r in rows}


def test_lsh_recall_column_visible_and_high(bound_result):
    # recall@3 against DuckDB's exact brute-force top-3 (the c_sim_knn
    # oracle at k=3): >= 0.98 at fixture scale under the fixed seed.
    rows, cols, e_rows, e_cols = bound_result("c_sim_lsh")
    approx = _bound_pairs(rows, cols, "query_id", "neighbor_id")
    exact = _bound_pairs(e_rows, e_cols, "query_id", "neighbor_id")
    assert exact
    recall = len(approx.keys() & exact.keys()) / len(exact)
    assert recall >= 0.98, recall


def test_lsh_native_recall_and_exactness(spark):
    # c_sim_lsh_native's hash oracle certifies the WHOLE pipeline by
    # construction (the oracle replays the md5-derived bucketing), so
    # unlike the ml-lib twins there is no soundness pin to guard here —
    # this measures the QUALITY story: candidates that survive the
    # exact verify are exactly the cos>=0.4 subset of candidates
    # (precision 1.0 by construction), and the banding recalls >= 70%
    # of the true cos>=0.4 pairs at the fixture's shallow spectrum
    # (measured 0.7424; ~0.9997 at a real near-dup spectrum of
    # cos>=0.9 — see the RHP_ROWS note in layer_c.py).
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(SF_SMOKE + "/embeddings.parquet")
    ids = np.array(t["vec_id"])
    x = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    c = u @ u.T
    iu = np.triu_indices(len(ids), 1)
    exact = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))): c[a, b]
        for a, b in zip(*iu)
        if c[a, b] >= 0.4
    }
    rows = REGISTRY["c_sim_lsh_native"].fn(spark, SF_SMOKE).collect()
    got = {(r["va"], r["vb"]): r["cos_sim"] for r in rows}
    assert got, "lsh_native returned no pairs"
    assert set(got) <= set(exact), "false positive survived the exact verify"
    assert len(got) / len(exact) >= 0.70, (len(got), len(exact))
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-3, (k, v, exact[k])


def test_cand_broadcast_fallback_equivalent(spark):
    # The exact-verify joins carry no broadcast hint: AQE broadcasts
    # the candidate set when its runtime size is under threshold and
    # falls back to shuffle joins otherwise (the guard for a corpus
    # whose TOTAL candidate count exceeds broadcast safety). Force the
    # shuffle path by disabling broadcast thresholds and pin that
    # results are identical — only the physical join strategy may
    # change.
    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {c: spark.conf.get(c, None) for c in confs}
    for name in ("c_dedup_minhash_native", "c_sim_lsh_native"):
        ref = {tuple(r) for r in REGISTRY[name].fn(spark, SF_SMOKE).collect()}
        try:
            for c in confs:
                spark.conf.set(c, "-1")
            alt = {tuple(r) for r in REGISTRY[name].fn(spark, SF_SMOKE).collect()}
        finally:
            for c, v in saved.items():
                if v is None:
                    spark.conf.unset(c)
                else:
                    spark.conf.set(c, v)
        assert ref and alt == ref, name


def test_kmeans_is_a_partition_and_refines(spark):
    # Every vector assigned exactly once; no cluster dies in two
    # iterations on the fixture; and iteration-2 centroids must FIT
    # better than the raw seeds for most vectors (the refinement is
    # real, not an identity pass): mean cos_sim(final) > mean
    # cos_sim(ivf seeds) — c_sim_ivf's assignment IS iteration 0.
    import numpy as np
    import pyarrow.parquet as pq

    rows = REGISTRY["c_sim_kmeans"].fn(spark, SF_SMOKE).collect()
    t = pq.read_table(SF_SMOKE + "/embeddings.parquet")
    n = t.num_rows
    assert len(rows) == n
    assert len({r["cluster_id"] for r in rows}) == 16
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in rows)
    # refinement is real: the two-iteration objective (mean best-cos)
    # beats iteration 0 (assignment to the raw vec_id<16 seeds, which
    # is exactly c_sim_ivf's model)
    ids = np.array(t["vec_id"])
    x = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    seeds = u[ids < 16]
    iter0 = float((u @ seeds.T).max(axis=1).mean())
    final = sum(r["cos_sim"] for r in rows) / n
    assert final > iter0, (final, iter0)


def test_minhash_invariant_columns(bound_result):
    # DuckDB's exact unblocked shingle-Jaccard pairs (sim >= 0.4) must
    # largely be found by MinHashLSH, and on found pairs the exact
    # distance must agree with the LSH-reported vector distance. NOTE:
    # the two sides use different shingle universes (HashingTF 2^18
    # binary buckets vs raw xxhash64 sets), so the bounds below are
    # fixture-scale empirical — the CURRENT fixture measures recall
    # exactly 1.0 and max gap ~0.0 — and must be re-measured if the
    # fixture is regenerated (a pair near the 0.6 threshold or a bucket
    # collision can move them without anything being wrong).
    rows, cols, e_rows, e_cols = bound_result("c_dedup_minhash")
    approx = _bound_pairs(rows, cols, "doc_a", "doc_b")
    exact = _bound_pairs(e_rows, e_cols, "doc_a", "doc_b")
    assert approx and exact
    hit = approx.keys() & exact.keys()
    assert len(hit) / len(exact) >= 0.95, (len(hit), len(exact))
    for k in hit:
        gap = abs(exact[k]["jaccard_dist"] - approx[k]["jaccard_dist"])
        assert gap <= 0.05, (k, gap)


def test_semdedup_kmeans_matches_numpy_reference(spark):
    # Third-implementation check (repo discipline for every trained /
    # iterative algorithm): an independent numpy replay of the full
    # SemDeDup-on-kmeans pipeline — two-Lloyd-round training with the
    # 6dp quantization, assignment tiebreaks, the (cent_sim ASC,
    # vec_id) scan order, pairwise verdicts at 4dp — must produce the
    # IDENTICAL dropped set, dup_of attribution and similarities.
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = np.array(t["vec_id"])
    order = np.argsort(ids)
    ids = ids[order]
    x = np.stack(
        [np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()]
    )[order]
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    K = 16

    def assign(cents):
        cn = np.linalg.norm(cents, axis=1)
        sims = np.round((u @ cents.T) / cn + 1e-10, 6) + 0.0
        # argmax with (sim DESC, cent_id ASC) tiebreak
        best = np.lexsort((np.arange(cents.shape[0])[None, :].repeat(len(u), 0), -sims), axis=1)[:, 0]
        return best, sims[np.arange(len(u)), best]

    c0 = u[ids < K]
    a1, _ = assign(c0)
    c1 = np.stack(
        [np.round(u[a1 == c].mean(axis=0) + 1e-10, 6) + 0.0 for c in range(K)]
    )
    a2, cent_sim = assign(c1)

    ref = {}
    for c in range(K):
        m_ids = ids[a2 == c]
        m_cs = cent_sim[a2 == c]
        m_u = u[a2 == c]
        o = np.lexsort((m_ids, m_cs))  # cent_sim ASC, vec_id ASC
        m_ids, m_u, m_cs = m_ids[o], m_u[o], m_cs[o]
        sims = np.round(m_u @ m_u.T + 1e-10, 4) + 0.0
        for i in range(1, len(m_ids)):
            earlier = sims[i, :i]
            if earlier.max(initial=-2.0) >= 0.35:
                j = np.lexsort((m_ids[:i], -earlier))[0]
                ref[int(m_ids[i])] = (
                    int(c),
                    int(m_ids[j]),
                    float(np.round(m_cs[i] + 1e-10, 4) + 0.0),
                    float(earlier[j]),
                )

    got = {
        r.vec_id: (r.cluster_id, r.dup_of, r.cent_sim, r.cos_sim)
        for r in REGISTRY["c_sim_dedup_kmeans"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(ref), (
        sorted(set(got) ^ set(ref))[:5], len(got), len(ref)
    )
    for v, (cl, dup, cs, sim) in ref.items():
        gcl, gdup, gcs, gsim = got[v]
        assert (gcl, gdup) == (cl, dup), (v, got[v], ref[v])
        assert abs(gcs - cs) < 1e-9 and abs(gsim - sim) < 1e-9, (v, got[v], ref[v])


def test_matryoshka_overlap_increases_with_dim(spark):
    # truncation-quality eval: mean overlap with the full-dim answer
    # must be (weakly) monotone in the truncation dim, and the full-dim
    # rows are exactly KNN_K by construction (the in-schema anchor).
    from demo_segmenter_spark.operators.layer_c import KNN_K, MRL_DIMS

    rows = REGISTRY["c_embed_matryoshka"].fn(spark, SF_SMOKE).collect()
    by_dim: dict[int, list[int]] = {}
    for r in rows:
        by_dim.setdefault(r.trunc_dim, []).append(r.overlap_at_k)
    assert set(by_dim) == set(MRL_DIMS)
    assert all(v == KNN_K for v in by_dim[MRL_DIMS[-1]])
    means = [sum(by_dim[d]) / len(by_dim[d]) for d in MRL_DIMS]
    assert means == sorted(means), means
    # truncation genuinely loses information on this spectrum
    assert means[0] < KNN_K


def test_rq_stage2_reduces_mean_error(spark):
    # RVQ contract: after the residual codebook's Lloyd update, mean
    # reconstruction error must drop stage to stage (cluster means
    # minimize within-cluster SSE against any constant incl. 0), and
    # the overwhelming majority of vectors improve individually.
    rows = REGISTRY["c_embed_rq"].fn(spark, SF_SMOKE).collect()
    assert rows
    n = len(rows)
    assert sum(r.err2 <= r.err1 for r in rows) >= 0.95 * n
    assert sum(r.err2 for r in rows) < sum(r.err1 for r in rows)
    # codes are within the codebook range
    from demo_segmenter_spark.operators.layer_c import KMEANS_K

    assert all(0 <= r.code1 < KMEANS_K and 0 <= r.code2 < KMEANS_K for r in rows)


def test_rq_adc_scores_are_exact_code_reconstructions(spark):
    # The ADC contract: every emitted score equals the query's dot
    # product with the code-reconstructed vector c1[code1] + c2[code2],
    # recomputed independently in numpy from the codebooks — the
    # lookup-table arithmetic is exact, whatever the fixture's
    # retrieval quality (see the docstring).
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import _rq_train

    base, c1, rc1, _, a2 = _rq_train(spark, SF_SMOKE)
    U = {r.vec_id: np.array(r.u) for r in base.collect()}
    C1 = {r.cent_id: np.array(r.cv) for r in c1.collect()}
    C2 = {r.cent_id: np.array(r.sv) for r in rc1.collect()}
    codes = {r.vec_id: (r.code1, r.code2) for r in a2.collect()}
    rows = REGISTRY["c_sim_rq_adc"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        k1, k2 = codes[r.neighbor_id]
        v1 = round(float(U[r.query_id] @ C1[k1]) * 1e6 + 1e-4) / 1e6
        v2 = round(float(U[r.query_id] @ C2[k2]) * 1e6 + 1e-4) / 1e6
        want = round((v1 + v2) * 1e4 + 1e-8) / 1e4
        assert abs(r.adc_score - want) < 1e-9, (r, want)
    # every query answered with a full top-k
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert set(per_q.values()) == {5}


def test_ivfpq_adc_scores_are_exact_code_reconstructions(spark):
    # IVFADC contract: every emitted score equals the query's dot
    # product with the code-reconstructed vector c1[code1] + the
    # per-subspace codebook entries, recomputed independently in numpy
    # through the SAME integer micro-unit arithmetic (coarse LUT + 4
    # subspace LUTs, each round(x*1e6 + 1e-4), summed exactly, divided
    # back once) — the lookup-table path is exact whatever the
    # fixture's retrieval quality.
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import (
        KNN_K,
        PQ_M,
        _ivfpq_train,
    )

    base, c1, ranked, pc1, pcodes = _ivfpq_train(spark, SF_SMOKE)
    U = {r.vec_id: np.array(r.u) for r in base.collect()}
    C1 = {r.cent_id: np.array(r.cv) for r in c1.collect()}
    CB: dict = {}
    for r in pc1.collect():
        CB.setdefault((r.s, r.cent_id), {})[r.j] = r.c
    codes: dict = {}
    code1: dict = {}
    for r in pcodes.collect():
        codes.setdefault(r.vec_id, {})[r.s] = r.code
        code1[r.vec_id] = r.code1
    rows = REGISTRY["c_sim_ivfpq_adc"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        qv = U[r.query_id]
        sm = round(float(qv @ C1[code1[r.neighbor_id]]) * 1e6 + 1e-4)
        for s in range(PQ_M):
            cb = CB[(s, codes[r.neighbor_id][s])]
            sub = np.array([cb[j] for j in range(16)])
            sm += round(float(qv[s * 16 : (s + 1) * 16] @ sub) * 1e6 + 1e-4)
        want = round(sm / 1e6 * 1e4 + 1e-8) / 1e4
        assert abs(r.adc_score - want) < 1e-9, (r, want)
    # per-query result sets: ranks contiguous from 1, bounded by K
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= KNN_K


def test_ivfpq_recall_column_matches_exact_topk(spark):
    # The in-schema recall_at_k must equal |ADC top-k ∩ exact top-k|/K
    # recomputed from c_sim_knn-style exact ranking over unit vectors.
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import (
        KNN_K,
        KNN_QUERIES,
        _ivfpq_train,
    )

    base, *_ = _ivfpq_train(spark, SF_SMOKE)
    U = {r.vec_id: np.array(r.u) for r in base.collect()}
    rows = REGISTRY["c_sim_ivfpq_adc"].fn(spark, SF_SMOKE).collect()
    assert rows
    adc_top: dict = {}
    recall: dict = {}
    for r in rows:
        adc_top.setdefault(r.query_id, set()).add(r.neighbor_id)
        recall[r.query_id] = r.recall_at_k
    ids = sorted(U)
    for qid in adc_top:
        assert qid < KNN_QUERIES
        sims = sorted(
            (
                (round(float(U[qid] @ U[v]) * 1e4 + 1e-6) / 1e4, -v)
                for v in ids
                if v != qid
            ),
            reverse=True,
        )
        exact = {-nv for _, nv in sims[:KNN_K]}
        want = round(len(adc_top[qid] & exact) / KNN_K * 1e4 + 1e-8) / 1e4
        assert abs(recall[qid] - want) < 1e-9, (qid, recall[qid], want)


def test_hybrid_semdedup_recovers_cross_cluster_pairs(spark):
    # The hybrid pass must (a) keep every within-cluster verdict the
    # cluster-only query reaches (same keep rule — victims can only be
    # ADDED, and a victim's best partner can only improve), and (b)
    # actually recover cross-cluster near-duplicates through the LSH
    # path: via='lsh' rows exist and every one of them straddles two
    # different trained clusters.
    kmeans = {
        r.vec_id: r.cos_sim
        for r in REGISTRY["c_sim_dedup_kmeans"].fn(spark, SF_SMOKE).collect()
    }
    hybrid = REGISTRY["c_sim_dedup_kmeans_hybrid"].fn(spark, SF_SMOKE).collect()
    hv = {r.vec_id: r for r in hybrid}
    assert set(kmeans) <= set(hv), sorted(set(kmeans) - set(hv))[:5]
    for vec_id, cos in kmeans.items():
        assert hv[vec_id].cos_sim >= cos, (vec_id, hv[vec_id].cos_sim, cos)
    lsh_rows = [r for r in hybrid if r.via == "lsh"]
    assert lsh_rows, "no cross-cluster recoveries at fixture scale"
    cl = {r.vec_id: r.cluster_id for r in hybrid}
    # a victim recovered via LSH must have its dup_of in ANOTHER
    # cluster; resolve the partner's cluster through the assignment
    # the query itself emits (victims) or recompute via the kmeans
    # query for keepers that were never dropped
    from demo_segmenter_spark.operators.layer_c import (
        _kmeans_train,
        _kmeans_assign,
    )

    base, c1 = _kmeans_train(spark, SF_SMOKE)
    assign = {
        r.vec_id: r.cluster_id
        for r in _kmeans_assign(base, c1).select("vec_id", "cluster_id").collect()
    }
    for r in lsh_rows:
        assert assign[r.vec_id] != assign[r.dup_of], r


def test_ivfpq_refine_recall_dominates_raw_adc(spark):
    # The refine stage exists to repair ADC quantization noise: per
    # query, exact re-rank of the top-20 shortlist must recall at
    # least as much of the exact top-5 as the raw ADC top-5 (it ranks
    # a superset of those candidates by the true metric), and the
    # refined scores must be true cosines (bounded by 1).
    adc = {
        r.query_id: r.recall_at_k
        for r in REGISTRY["c_sim_ivfpq_adc"].fn(spark, SF_SMOKE).collect()
    }
    ref_rows = REGISTRY["c_sim_ivfpq_refine"].fn(spark, SF_SMOKE).collect()
    assert ref_rows
    ref = {r.query_id: r.recall_at_k for r in ref_rows}
    assert set(ref) == set(adc)
    for qid, rr in ref.items():
        assert rr >= adc[qid], (qid, rr, adc[qid])
    assert all(-1.0 - 1e-9 <= r.cos_sim <= 1.0 + 1e-9 for r in ref_rows)


def test_hamming_recall_and_refine_consistency(spark):
    # Binary signatures on the fixture's SHALLOW cosine spectrum (max
    # cos ~0.51; sign-bit agreement p = 1 - acos(c)/pi is only 0.667
    # there) — recall is structurally modest HERE and measured, not
    # assumed; on a real near-dup corpus (cos >= 0.9 -> p >= 0.856) a
    # 64-bit signature separates cleanly (scale_smoke::hamming_stress
    # pins recall ~1.0 on planted clusters). What must hold on ANY
    # fixture: the refine stage scores with the SAME cosine as the
    # exact engine, so every overlapping pair agrees on cos to 4dp.
    exact_df = REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE).collect()
    ham_df = REGISTRY["c_sim_hamming"].fn(spark, SF_SMOKE).collect()
    exact = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact_df}
    ham = {(r["query_id"], r["neighbor_id"]): r["cos_q"] for r in ham_df}
    assert ham, "hamming search returned no neighbors"
    overlap = set(ham) & set(exact)
    assert len(overlap) / len(exact) >= 0.4, len(overlap) / len(exact)
    for pair in overlap:
        assert abs(ham[pair] - exact[pair]) <= 2e-4, (pair, ham[pair], exact[pair])
    for r in ham_df:
        assert 0 <= r["hamming"] <= 64
        assert 1 <= r["rank"] <= 5


def test_nndescent_recall_floor_and_graph_shape(spark):
    # Round-11: NN-descent kNN-graph. On the fixture's shallow spectrum
    # the LSH-seeded graph search is structurally capped (measured
    # 0.69 at saturation — rounds 3 and 4 add nothing); what must hold
    # on ANY fixture: every vector's list is <= ND_K with dense ranks,
    # sims are valid micro-cosines, hit flags exist exactly on the
    # sample block, and recall clears the measured floor.
    from demo_segmenter_spark.operators.layer_c import KNN_QUERIES, ND_K

    rows = REGISTRY["c_sim_nndescent"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_vec: dict = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], []).append(r)
        assert -1_000_000 - 1 <= r["sim_micro"] <= 1_000_000 + 1
        assert (r["hit"] is not None) == (r["vec_id"] < KNN_QUERIES)
    for vec_id, lst in by_vec.items():
        ranks = sorted(x["rank"] for x in lst)
        assert ranks == list(range(1, len(lst) + 1)), vec_id
        assert len(lst) <= ND_K
        assert vec_id not in {x["neighbor_id"] for x in lst}
    hits = [r["hit"] for r in rows if r["hit"] is not None]
    assert sum(hits) / len(hits) >= 0.6, sum(hits) / len(hits)


def test_nndescent_rounds_monotone_improve(spark):
    # The defining NN-descent property: each round's candidate set
    # contains the previous round's edges, so per-vector list quality
    # (sum of kept sims) can only improve. Compare rounds=0 (LSH init
    # only) vs the registered rounds=2 graph.
    from demo_segmenter_spark.operators.layer_c import _nndescent_result

    g0 = _nndescent_result(spark, SF_SMOKE, rounds=0).collect()
    g2 = REGISTRY["c_sim_nndescent"].fn(spark, SF_SMOKE).collect()

    def quality(rows):
        q: dict = {}
        for r in rows:
            q[r["vec_id"]] = q.get(r["vec_id"], 0) + r["sim_micro"]
        return q

    q0, q2 = quality(g0), quality(g2)
    assert set(q0) <= set(q2)  # rounds can only ADD reachable vectors
    worse = {v: (q0[v], q2[v]) for v in q0 if q2[v] < q0[v]}
    assert not worse, worse
    # and the rounds genuinely find something: strict improvement
    # somewhere, plus recall not below the init recall
    assert any(q2[v] > q0[v] for v in q0)
    r0 = [r["hit"] for r in g0 if r["hit"] is not None]
    r2 = [r["hit"] for r in g2 if r["hit"] is not None]
    assert sum(r2) / len(r2) >= sum(r0) / len(r0)


def test_graph_search_recall_floor_and_beam_shape(spark):
    # Round-11 serving half: beam search over the NN-descent graph.
    # On the fixture's shallow spectrum the measured ceiling is the
    # GRAPH's own build recall (~0.69); search at beam 32 reaches
    # ~0.63 — pin a floor under it. Shape: exactly the sample block's
    # queries, dense ranks <= ND_K, sims valid micro-cosines, and
    # search can never beat the exact probe (hit is against exact
    # top-K, so per-query hits <= ND_K trivially; the real relational
    # pin: every returned sim <= the exact top-1 sim for that query).
    from demo_segmenter_spark.operators.layer_c import KNN_QUERIES, ND_K

    rows = REGISTRY["c_sim_graph_search"].fn(spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in rows} == set(range(KNN_QUERIES))
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert -1_000_000 - 1 <= r["sim_micro"] <= 1_000_000 + 1
        assert r["neighbor_id"] != r["query_id"]
    for q, lst in by_q.items():
        assert sorted(x["rank"] for x in lst) == list(
            range(1, len(lst) + 1)
        )
        assert len(lst) <= ND_K
    hits = [r["hit"] for r in rows]
    assert sum(hits) / len(hits) >= 0.55, sum(hits) / len(hits)
    # relational: the graph walk's best sim per query cannot exceed
    # the exact brute-force best
    exact = {}
    for r in REGISTRY["c_sim_knn"].fn(spark, SF_SMOKE).collect():
        if r["rank"] == 1:
            exact[r["query_id"]] = r["cos_sim"]
    for q, lst in by_q.items():
        best = max(x["sim_micro"] for x in lst) / 1e6
        assert best <= exact[q] + 2e-4, (q, best, exact[q])


def test_nd_matrix_scoring_matches_join_path(spark):
    # Round-12: the block-gather scoring path (broadcast matrix +
    # mapInPandas cumsum fold) must be BIT-identical to the join/HOF
    # path — the cumulative sum's last element is the same left fold,
    # the divide has the same operands, and rounding stays JVM-side.
    from pyspark.sql import functions as F

    from demo_segmenter_spark.functions.vectors import as_double, dot
    from demo_segmenter_spark.operators.layer_c import (
        _nd_matrix,
        _nd_score_pairs,
        _rhp_candidate_pairs,
    )
    from demo_segmenter_spark.sources import load_table, spread

    emb = spread(load_table(spark, SF_SMOKE, "embeddings"))
    vec = as_double(F.col("embedding"))
    base = emb.select(
        "vec_id", "embedding", vec.alias("v"), F.sqrt(dot(vec, vec)).alias("nrm")
    ).persist()
    pairs = _rhp_candidate_pairs(base).localCheckpoint()
    mat = _nd_matrix(base)
    via_join = _nd_score_pairs(base, pairs)
    via_mat = _nd_score_pairs(base, pairs, mat)
    assert via_join.count() == pairs.count() == via_mat.count()
    diff = (
        via_join.withColumnRenamed("sm", "s1")
        .join(via_mat.withColumnRenamed("sm", "s2"), ["va", "vb"])
        .filter("s1 <> s2")
        .count()
    )
    assert diff == 0
    base.unpersist()


def test_nd_incremental_round_matches_full_rescore(spark):
    # Round-12: the incremental round (anti-join vs the cumulative
    # scored table, top-K over g ∪ fresh) must produce the SAME graph
    # as the r11 full-rescore form, replayed here as the reference:
    # rescore EVERY proposed pair, top-K over the full sym candidate
    # set. This is the monotonicity argument made executable.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from demo_segmenter_spark.functions.vectors import as_double, dot
    from demo_segmenter_spark.operators.layer_c import (
        ND_K,
        ND_RCAP,
        ND_ROUNDS,
        _nd_build_graph,
        _nd_score_pairs,
        _nd_sym,
        _rhp_candidate_pairs,
    )
    from demo_segmenter_spark.sources import load_table, spread

    emb = spread(load_table(spark, SF_SMOKE, "embeddings"))
    vec = as_double(F.col("embedding"))
    base = emb.select(
        "vec_id", "embedding", vec.alias("v"), F.sqrt(dot(vec, vec)).alias("nrm")
    ).persist()

    def topk_ref(sym):
        w = Window.partitionBy("v").orderBy(F.col("sm").desc(), "u")
        return (
            sym.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= ND_K)
            .select("v", "u", "sm")
        )

    # reference: the round-11 full-rescore dataflow, window top-K
    ps0 = _nd_score_pairs(base, _rhp_candidate_pairs(base))
    g_ref = topk_ref(_nd_sym(ps0)).localCheckpoint()
    for _ in range(ND_ROUNDS):
        w_rev = Window.partitionBy("u").orderBy(F.col("sm").desc(), "v")
        rev = (
            g_ref.withColumn("rk", F.row_number().over(w_rev))
            .filter(F.col("rk") <= ND_RCAP)
            .select(F.col("u").alias("v"), F.col("v").alias("u"))
        )
        adj = g_ref.select("v", "u").unionByName(rev).distinct().localCheckpoint()
        a = adj.select(F.col("v").alias("av_"), F.col("u").alias("m"))
        b = adj.select(F.col("v").alias("m2"), F.col("u").alias("bu_"))
        non = (
            a.join(b, F.col("m") == F.col("m2"))
            .filter(F.col("av_") != F.col("bu_"))
            .select(
                F.least("av_", "bu_").alias("va"),
                F.greatest("av_", "bu_").alias("vb"),
            )
        )
        pairs = (
            adj.select(
                F.least("v", "u").alias("va"), F.greatest("v", "u").alias("vb")
            )
            .unionByName(non)
            .distinct()
        )
        ps = _nd_score_pairs(base, pairs)
        g_ref = topk_ref(_nd_sym(ps)).localCheckpoint()

    g_new = _nd_build_graph(base)
    diff = g_new.exceptAll(g_ref).count() + g_ref.exceptAll(g_new).count()
    assert diff == 0
    base.unpersist()


def test_gs_serve_block_matches_join_path(spark):
    # Round-12 block lane: the single-task numpy beam walk
    # (_gs_serve_block — broadcast matrix + edge list, zero exchanges)
    # must be ROW-identical to the join-path serve it replaced on the
    # same graph: same fold, same HALF_UP quantization, same
    # (sm DESC, id) total orders, same exact-sample hit flag.
    from pyspark.sql import functions as F

    from demo_segmenter_spark.functions.vectors import as_double, dot
    from demo_segmenter_spark.operators.layer_c import (
        GS_HOPS,
        _gs_serve,
        _nd_build_graph,
    )
    from demo_segmenter_spark.sources import load_table, spread

    emb = spread(load_table(spark, SF_SMOKE, "embeddings"))
    vec = as_double(F.col("embedding"))
    base = emb.select(
        "vec_id", "embedding", vec.alias("v"), F.sqrt(dot(vec, vec)).alias("nrm")
    ).persist()
    g, mat = _nd_build_graph(base, with_mat=True)
    via_join = _gs_serve(base, g, GS_HOPS)
    via_block = _gs_serve(base, g, GS_HOPS, mat=mat)
    diff = (
        via_join.exceptAll(via_block).count()
        + via_block.exceptAll(via_join).count()
    )
    assert diff == 0
    base.unpersist()


def test_graph_layers_beats_flat_search_and_edge_ceiling(spark):
    # Round-12 (verdict r11 ask #1): the layered skip-edge graph must
    # lift SEARCH recall above BOTH the flat graph's search recall and
    # the flat graph's own edge ceiling (0.69 measured on this
    # fixture) — the whole point of long-range links. Measured 0.940
    # vs flat 0.628 at sf0.001; pinned with slack for fixture drift.
    from demo_segmenter_spark.operators.layer_c import KNN_QUERIES, ND_K

    flat = REGISTRY["c_sim_graph_search"].fn(spark, SF_SMOKE).collect()
    lay = REGISTRY["c_sim_graph_layers"].fn(spark, SF_SMOKE).collect()

    def rec(rows):
        h = [r["hit"] for r in rows if r["hit"] is not None]
        return sum(h) / len(h)

    r_flat, r_lay = rec(flat), rec(lay)
    assert r_lay >= r_flat, (r_lay, r_flat)
    assert r_lay >= 0.85, r_lay  # > the flat graph's 0.69 edge ceiling
    # same shape contract as the flat query
    by_q: dict = {}
    for r in lay:
        by_q.setdefault(r["query_id"], []).append(r)
        assert -1_000_001 <= r["sim_micro"] <= 1_000_001
    assert set(by_q) == set(range(KNN_QUERIES))
    for q, lst in by_q.items():
        ranks = sorted(x["rank"] for x in lst)
        assert ranks == list(range(1, len(lst) + 1)), q
        assert len(lst) <= ND_K
        assert q not in {x["neighbor_id"] for x in lst}


def test_gl_skip_edges_shape(spark):
    # The skip-edge generator: ≤ 2·|scales| per vector (self-wraps
    # dropped), every target a valid id, every vector covered —
    # deterministic id arithmetic, so this is exact.
    from demo_segmenter_spark.operators.layer_c import (
        GL_SCALES,
        _gl_skip_edges,
        _nd_base,
    )

    base = _nd_base(spark, SF_SMOKE)
    n = base.count()
    rows = _gl_skip_edges(base, n).collect()
    assert all(0 <= r["u"] < n and r["u"] != r["v"] for r in rows)
    per_v: dict = {}
    for r in rows:
        per_v[r["v"]] = per_v.get(r["v"], 0) + 1
    assert len(per_v) == n
    assert max(per_v.values()) <= 2 * len(GL_SCALES)
    base.unpersist()
