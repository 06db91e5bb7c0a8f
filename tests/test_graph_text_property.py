"""Independent-implementation property tests for the round-5 additions
with nontrivial combinatorial semantics: c_token_bpe (greedy
non-overlapping merges with total-order argmax ties) and
b_graph_triangles (degree-ordered orientation with (degree, id) ties).
Random corpora/graphs over tiny domains force the edge cases the
fixture never hits — overlap runs, argmax ties, equal-degree
orientation — and a pure-Python reference recomputes the exact
expected output."""

from __future__ import annotations

import os
import random
import uuid
from collections import Counter

from demo_segmenter_spark.registry import REGISTRY, load_all_operators

load_all_operators()


# --------------------------- BPE reference ---------------------------


def _bpe_reference(docs: dict[int, str], rounds: int = 2):
    seqs = {d: t.split(" ") for d, t in docs.items()}
    out = []
    for r in range(1, rounds + 1):
        cnt = Counter()
        for s in seqs.values():
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += 1
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges = 0
        for d, s in seqs.items():
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    ns.append(a + "_" + b)
                    merges += 1
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            seqs[d] = ns
        out.append((r, a, b, c, merges, a + "_" + b))
    return out


def _write_docs(spark, docs: dict[int, str]) -> str:
    d = f"/tmp/dss_prop/{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, t, "en", "prop", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_bpe_matches_python_reference(spark):
    rng = random.Random(11)
    for trial in range(3):
        # 2-letter alphabet with doubled letters: rich in a==b argmax
        # pairs, overlap runs, and count ties
        vocab = ["a", "b", "aa"]
        docs = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 18)))
            for d in range(12)
        }
        want = _bpe_reference(docs)
        sf = _write_docs(spark, docs)
        got = sorted(
            tuple(r) for r in REGISTRY["c_token_bpe"].fn(spark, sf).collect()
        )
        assert got == sorted(want), (trial, got, want)


# ------------------------- triangle reference ------------------------


def _triangle_reference(rows, min_qty=40, top=20):
    op = {(o, p) for o, p, q in rows if q >= min_qty}
    from collections import defaultdict

    by_order = defaultdict(set)
    for o, p in op:
        by_order[o].add(p)
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri_count = Counter()
    for u, v in edges:
        for w in adj[u] & adj[v]:
            if w > v:  # count each triangle once (u < v < w by id)
                if u < v < w:
                    tri_count[u] += 1
                    tri_count[v] += 1
                    tri_count[w] += 1
    ranked = sorted(tri_count.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    return [(node, cnt) for node, cnt in ranked]


def _write_lineitem(spark, rows) -> str:
    d = f"/tmp/dss_prop/{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(o, p, float(q)) for o, p, q in rows],
        "l_orderkey long, l_partkey long, l_quantity double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return d


def test_triangles_match_python_reference(spark):
    rng = random.Random(23)
    for trial in range(3):
        # dense tiny graph: 12 parts, 40 orders x up to 5 parts ->
        # plenty of triangles and MANY equal-degree orientation ties
        rows = []
        for o in range(40):
            for p in rng.sample(range(12), rng.randint(1, 5)):
                rows.append((o, p, rng.choice([10, 45, 50])))
        want = _triangle_reference(rows)
        sf = _write_lineitem(spark, rows)
        got = [
            (r.node, r.n_triangles)
            for r in REGISTRY["b_graph_triangles"].fn(spark, sf).collect()
        ]
        assert got == want, (trial, got, want)


# --------------------- label-prop / BFS references -------------------


def _copurchase_graph(rows, min_qty):
    from collections import defaultdict

    by_order = defaultdict(set)
    for o, p, q in rows:
        if q >= min_qty:
            by_order[o].add(p)
    adj = defaultdict(set)
    for o, parts in by_order.items():
        for p in parts:
            adj[2 * o].add(2 * p + 1)
            adj[2 * p + 1].add(2 * o)
    return adj


def test_components_match_python_reference(spark):
    from demo_segmenter_spark.operators.layer_b import (
        LABELPROP_ITERS,
        LABELPROP_MIN_QTY,
    )

    rng = random.Random(5)
    for trial in range(3):
        rows = [
            (o, p, rng.choice([10, 48, 50]))
            for o in range(30)
            for p in rng.sample(range(15), rng.randint(1, 3))
        ]
        adj = _copurchase_graph(rows, LABELPROP_MIN_QTY)
        lbl = {v: v for v in adj}
        for _ in range(LABELPROP_ITERS):
            lbl = {
                v: min([lbl[v]] + [lbl[u] for u in adj[v]]) for v in adj
            }
        comp = Counter(lbl.values())
        want = sorted(
            (
                (c, n, min(v for v, l in lbl.items() if l == c))
                for c, n in comp.items()
            ),
            key=lambda t: (-t[1], t[0]),
        )[:100]
        sf = _write_lineitem(spark, rows)
        got = [
            (r.component, r.n_nodes, r.min_node)
            for r in REGISTRY["b_graph_components"].fn(spark, sf).collect()
        ]
        assert got == want, (trial, got[:5], want[:5])


def test_bfs_matches_python_reference(spark):
    from demo_segmenter_spark.operators.layer_b import (
        BFS_ROUNDS,
        BFS_SOURCE_MAX_PARTKEY,
        LABELPROP_MIN_QTY,
    )

    rng = random.Random(17)
    for trial in range(3):
        rows = [
            (o, p, rng.choice([10, 48, 50]))
            for o in range(40)
            for p in rng.sample(range(20), rng.randint(1, 3))
        ]
        adj = _copurchase_graph(rows, LABELPROP_MIN_QTY)
        INF = None
        dist = {
            v: (0 if v % 2 == 1 and v <= 2 * BFS_SOURCE_MAX_PARTKEY + 1 else INF)
            for v in adj
        }
        for _ in range(BFS_ROUNDS):
            nd = {}
            for v in adj:
                cands = [dist[v]] + [
                    dist[u] + 1 for u in adj[v] if dist[u] is not None
                ]
                cands = [c for c in cands if c is not None]
                nd[v] = min(cands) if cands else None
            dist = nd
        hist = Counter(d for d in dist.values() if d is not None)
        want = sorted(
            (d, n, min(v for v, dd in dist.items() if dd == d))
            for d, n in hist.items()
        )
        sf = _write_lineitem(spark, rows)
        got = [
            (r.dist, r.n_nodes, r.min_node)
            for r in REGISTRY["b_graph_bfs"].fn(spark, sf).collect()
        ]
        assert got == want, (trial, got, want)


# --------------------------- PCA reference ---------------------------


def test_pca_matches_numpy_replay(spark):
    # third independent implementation of the exact unrolled algorithm
    # (Spark / DuckDB / numpy): 3 power iterations with 6-dp
    # quantization after each normalization, uniform 1/8 init
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import PCA_ITERS, _PCA_V0
    from demo_segmenter_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    emb = load_table(spark, sf, "embeddings").select("embedding").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    v = np.full(X.shape[1], _PCA_V0)
    for _ in range(PCA_ITERS):
        s = X.T @ (X @ v)
        v = np.round(s / np.sqrt((s * s).sum()) + 1e-10, 6) + 0.0
        nrm = np.sqrt((s * s).sum())
    got = {
        r.dim: (r.loading, r.eig_norm)
        for r in REGISTRY["c_embed_pca"].fn(spark, sf).collect()
    }
    for j in range(X.shape[1]):
        assert abs(got[j + 1][0] - v[j]) <= 1e-9, (j, got[j + 1][0], v[j])
    assert abs(got[1][1] - (round(nrm + 1e-6, 2) + 0.0)) <= 1e-9


def test_pca_deflate_matches_numpy_replay(spark):
    # third independent implementation of the deflated second
    # component: replay v1 exactly (quantized power iterations),
    # deflate X row-wise with the quantized v1, re-run the iterations.
    # Also pins the orthogonality invariant the in-schema `ortho`
    # column certifies.
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import PCA_ITERS, _PCA_V0
    from demo_segmenter_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    emb = load_table(spark, sf, "embeddings").select("embedding").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)

    def power(M):
        v = np.full(M.shape[1], _PCA_V0)
        for _ in range(PCA_ITERS):
            s = M.T @ (M @ v)
            v = np.round(s / np.sqrt((s * s).sum()) + 1e-10, 6) + 0.0
            nrm = np.sqrt((s * s).sum())
        return v, nrm

    v1, _ = power(X)
    Xd = X - np.outer(X @ v1, v1)
    v2, nrm2 = power(Xd)
    got = {
        r.dim: r
        for r in REGISTRY["c_embed_pca_deflate"].fn(spark, sf).collect()
    }
    for j in range(X.shape[1]):
        assert abs(got[j + 1].loading1 - v1[j]) <= 1e-9
        assert abs(got[j + 1].loading2 - v2[j]) <= 1e-9
    assert abs(got[1].eig_norm2 - (round(nrm2 + 1e-6, 2) + 0.0)) <= 1e-9
    want_ortho = round(float(v1 @ v2) + 1e-8, 4) + 0.0
    assert abs(got[1].ortho - want_ortho) <= 1e-9
    assert abs(got[1].ortho) <= 0.001  # deflation really orthogonalized


def test_pca_project_matches_numpy_replay(spark):
    # third implementation of the APPLY step (c_embed_pca_project):
    # replay both quantized component chains in numpy, project with
    # 6dp-quantized coefficients, reconstruct, compare per row.
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import PCA_ITERS, _PCA_V0
    from demo_segmenter_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    rows = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)

    def power(M):
        v = np.full(M.shape[1], _PCA_V0)
        for _ in range(PCA_ITERS):
            s = M.T @ (M @ v)
            v = np.round(s / np.sqrt((s * s).sum()) + 1e-10, 6) + 0.0
        return v

    v1 = power(X)
    Xd = X - np.outer(X @ v1, v1)
    v2 = power(Xd)
    p1 = np.round(X @ v1 + 1e-10, 6) + 0.0
    p2 = np.round(X @ v2 + 1e-10, 6) + 0.0
    R = X - np.outer(p1, v1) - np.outer(p2, v2)
    rs = np.sqrt((R * R).sum(axis=1))

    def q4(x):
        return round(float(x) + 1e-8, 4) + 0.0

    got = {
        r.vec_id: r
        for r in REGISTRY["c_embed_pca_project"].fn(spark, sf).collect()
    }
    assert len(got) == len(ids)
    for idx, vid in enumerate(ids):
        assert abs(got[vid].p1 - q4(p1[idx])) <= 1e-9, vid
        assert abs(got[vid].p2 - q4(p2[idx])) <= 1e-9, vid
        assert abs(got[vid].resid_norm - q4(rs[idx])) <= 1e-9, vid
    # the 2-D reduction actually explains variance: residual energy
    # strictly below total energy for every row with nonzero p1/p2
    tot = np.sqrt((X * X).sum(axis=1))
    assert (rs <= tot + 1e-9).all()
    assert (rs < tot - 1e-9).mean() > 0.9


def test_kcore_matches_python_reference(spark):
    from demo_segmenter_spark.operators.layer_b import (
        KCORE_K,
        KCORE_ROUNDS,
        TRIANGLE_MIN_QTY,
    )

    rng = random.Random(31)
    for trial in range(3):
        rows = [
            (o, p, rng.choice([10, 45, 50]))
            for o in range(40)
            for p in rng.sample(range(14), rng.randint(1, 4))
        ]
        # co-purchase PART graph (u < v), qty-filtered like the query
        from collections import defaultdict

        by_order = defaultdict(set)
        for o, p, q in rows:
            if q >= TRIANGLE_MIN_QTY:
                by_order[o].add(p)
        edges = set()
        for parts in by_order.values():
            ps = sorted(parts)
            for i, u in enumerate(ps):
                for v in ps[i + 1 :]:
                    edges.add((u, v))
        for _ in range(KCORE_ROUNDS):
            deg = Counter()
            for u, v in edges:
                deg[u] += 1
                deg[v] += 1
            keep = {n for n, d in deg.items() if d >= KCORE_K}
            edges = {(u, v) for u, v in edges if u in keep and v in keep}
        deg = Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        want = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        sf = _write_lineitem(spark, rows)
        got = [
            (r.node, r.degree)
            for r in REGISTRY["b_graph_kcore"].fn(spark, sf).collect()
        ]
        assert got == want, (trial, got[:5], want[:5])


def test_mmr_matches_python_reference(spark):
    # third independent implementation of the unrolled MMR selection:
    # numpy cosines (4dp-rounded like both engines), then the exact
    # greedy loop — score = 0.7*rel - 0.3*max sim-to-selected, ties by
    # vec_id. Catches argmax/tiebreak drift the two dataflow replays
    # could share.
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import MMR_K, MMR_POOL
    from demo_segmenter_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    qi = int(np.where(ids == 0)[0][0])

    def r4(v):
        return np.round(v + 1e-08, 4) + 0.0

    rel = r4(X @ X[qi] / (nrm * nrm[qi]))
    cand = [(float(rel[i]), int(ids[i]), i) for i in range(len(ids)) if ids[i] != 0]
    pool = sorted(cand, key=lambda t: (-t[0], t[1]))[:MMR_POOL]
    sel, want = [], {}
    for rank in range(1, MMR_K + 1):
        best = None
        for relv, vid, i in pool:
            if any(vid == s[1] for s in sel):
                continue
            if not sel:
                score = 0.7 * relv
            else:
                ms = max(
                    float(r4(X[i] @ X[j] / (nrm[i] * nrm[j]))) for _, _, j in sel
                )
                score = 0.7 * relv - 0.3 * ms
            if best is None or (-score, vid) < (-best[0], best[1]):
                best = (score, vid, relv, i)
        sel.append((best[0], best[1], best[3]))
        want[rank] = (best[1], best[2], round(best[0] + 1e-08, 4) + 0.0)
    got = {
        r.rank: (r.vec_id, r.rel, r.score)
        for r in REGISTRY["c_rag_mmr"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_ktable_fk_join_matches_python_reference(spark):
    # Locks the KIP-213 compaction semantics that the fixture nearly
    # hid: l_linenumber REPEATS within an order, so "latest version"
    # is defined by the (linenumber, suppkey, price) total order —
    # random changelogs with heavy duplicate versions force the ties.
    import os
    import uuid as _uuid

    rng = random.Random(41)
    for trial in range(3):
        n_orders, n_supp = 25, 6
        lineitem = []
        for o in range(n_orders):
            for _ in range(rng.randint(1, 6)):
                lineitem.append(
                    (
                        o,
                        rng.randint(1, 3),            # linenumber: many dups
                        rng.randint(0, n_supp - 1),   # suppkey (FK)
                        round(rng.uniform(10, 99), 2),
                    )
                )
        supplier = [(s, f"S{s:03d}", s % 4) for s in range(n_supp)]
        orders = [(o, round(rng.uniform(100, 999), 2)) for o in range(n_orders)]

        # python reference
        latest = {}
        for o, ln, sk, px in lineitem:
            key = (ln, sk, px)
            if o not in latest or key > latest[o][0]:
                latest[o] = (key, ln, sk, px)
        sup = {s: (name, nk) for s, name, nk in supplier}
        tot = dict(orders)
        want = {
            (
                o,
                ln,
                sk,
                sup[sk][0],
                sup[sk][1],
                round(round(px * 100 + 1e-4) / 100.0 + 1e-6, 2) + 0.0,
                round(round(tot[o] * 100 + 1e-4) / 100.0 + 1e-6, 2) + 0.0,
            )
            for o, (key, ln, sk, px) in latest.items()
        }

        d = f"/tmp/dss_prop/{_uuid.uuid4().hex[:8]}"
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            [(o, int(ln), int(sk), float(px)) for o, ln, sk, px in lineitem],
            "l_orderkey long, l_linenumber int, l_suppkey long, l_extendedprice double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            supplier, "s_suppkey long, s_name string, s_nationkey int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
        spark.createDataFrame(
            orders, "o_orderkey long, o_totalprice double"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        got = {
            tuple(r)
            for r in REGISTRY["a_ktable_fk_join"].fn(spark, d).collect()
        }
        assert got == want, (trial, sorted(got)[:3], sorted(want)[:3])


def test_sssp_matches_python_reference(spark):
    # third independent implementation of weighted Bellman-Ford:
    # per-pair edge weight = min quantity (1..3), self-relaxation free
    from collections import Counter, defaultdict

    from demo_segmenter_spark.operators.layer_b import (
        SSSP_MAX_QTY,
        SSSP_ROUNDS,
        SSSP_SOURCE_MAX_PARTKEY,
    )

    rng = random.Random(41)
    for trial in range(3):
        rows = [
            (o, p, rng.choice([1, 2, 3, 10, 50]))
            for o in range(40)
            for p in rng.sample(range(20), rng.randint(1, 3))
        ]
        w = {}
        for o, p, q in rows:
            if q <= SSSP_MAX_QTY:
                k = (2 * o, 2 * p + 1)
                w[k] = min(w.get(k, q), q)
        adj = defaultdict(dict)
        for (a, b), wt in w.items():
            adj[a][b] = min(adj[a].get(b, wt), wt)
            adj[b][a] = min(adj[b].get(a, wt), wt)
        dist = {
            v: (
                0
                if v % 2 == 1 and v <= 2 * SSSP_SOURCE_MAX_PARTKEY + 1
                else None
            )
            for v in adj
        }
        for _ in range(SSSP_ROUNDS):
            nd = {}
            for v in adj:
                cands = [dist[v]] + [
                    dist[u] + wt
                    for u, wt in adj[v].items()
                    if dist[u] is not None
                ]
                cands = [c for c in cands if c is not None]
                nd[v] = min(cands) if cands else None
            dist = nd
        hist = Counter(d for d in dist.values() if d is not None)
        want = sorted(
            (d, n, min(v for v, dd in dist.items() if dd == d))
            for d, n in hist.items()
        )
        sf = _write_lineitem(spark, rows)
        got = [
            (r.dist, r.n_nodes, r.min_node)
            for r in REGISTRY["b_graph_sssp"].fn(spark, sf).collect()
        ]
        assert got == want, (trial, got, want)


# ------------------- kernel dedup on repeated pairs ------------------


def test_pair_lanes_dedup_repeated_pairs_like_their_chains(spark, monkeypatch):
    # TPC-H almost never repeats an (orderkey, partkey) pair, so the
    # fixtures leave the kernels' dedup (lanes.np_dedup) idle. Here
    # every pair repeats 1-3 times with different quantities, across
    # every query's filter; the weights 1.2 / 1.7 / 2.5 / 2.9 make the
    # pair minimum differ from the other repeats in the fractional part
    # only, so sssp's min-then-cast weight is exercised.
    from demo_segmenter_spark.functions import lanes
    from demo_segmenter_spark.functions.cache import release_persisted
    from demo_segmenter_spark.plans.inspect import explain_str

    qtys = [1.2, 1.7, 2.5, 2.9, 3.0, 40.5, 45.0, 48.0, 49.5, 50.0]

    def rows_of(name, sf):
        df = REGISTRY[name].fn(spark, sf)
        plan = explain_str(df)
        got = sorted(tuple(r) for r in df.collect())
        release_persisted(spark, owner=True)
        return plan, got

    rng = random.Random(59)
    for trial in range(2):
        rows = [
            (o, p, rng.choice(qtys))
            for o in range(30)
            for p in rng.sample(range(12), rng.randint(1, 4))
            for _ in range(rng.randint(1, 3))
        ]
        pairs = Counter((o, p) for o, p, _ in rows)
        assert sum(c > 1 for c in pairs.values()) > len(pairs) // 3
        sf = _write_lineitem(spark, rows)
        for name in (
            "b_graph_pagerank",
            "b_graph_components",
            "b_graph_community",
            "b_graph_bfs",
            "b_graph_sssp",
        ):
            plan, got = rows_of(name, sf)
            with monkeypatch.context() as m:
                m.setitem(lanes.CAPS, "graph", -1)
                ref_plan, ref = rows_of(name, sf)
            assert "MapInPandas" in plan and "MapInPandas" not in ref_plan
            assert got and got == ref, (trial, name, got[:5], ref[:5])
