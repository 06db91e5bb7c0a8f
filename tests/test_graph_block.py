"""Graph block lane (round-12 optimization): pin the one-task numpy
kernels used below CAPS["graph"] row-identical to the distributed
round semantics, via Spark-built references on crafted graphs chosen
to hit the tie/tiebreak paths, plus the live queries' lane dispatch on
the sf0.001 fixture (where their oracles independently hash-certify
the block lane end to end)."""

from __future__ import annotations

import pyspark.sql.functions as F

import demo_segmenter_spark.operators.layer_b as lb

SF_DIR = "/root/testdata/sf0.001"


def test_community_kernel_matches_spark_reference(spark):
    # crafted: two dense triangles bridged by one edge + an isolated
    # edge; LPA label ties must break (count DESC, label ASC)
    import pandas as pd

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6),
             (10, 11)]
    pairs = spark.createDataFrame(edges, "o long, p long")
    batches = [pd.DataFrame(edges, columns=["o", "p"])]
    kern_rows = {
        tuple(int(v) for v in r)
        for pdf in lb._community_kernel(batches)
        for r in pdf.itertuples(index=False)
    }

    # Spark reference: the distributed rounds (pre-block code path)
    from pyspark.sql import Window

    both = F.array(
        F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
        F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
    )
    half = pairs.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    nodes_df = half.select("src").distinct()
    edges_df = half.unionByName(
        nodes_df.select("src", F.col("src").alias("dst"))
    )
    lbl = nodes_df.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "lbl")
    for _ in range(lb.COMMUNITY_ITERS):
        lbl = (
            edges_df.join(
                lbl.select(
                    F.col("node").alias("src"), F.col("lbl").alias("src_lbl")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), F.col("src_lbl").alias("lbl"))
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    ref = {
        (r["community"], r["n_nodes"], r["min_node"])
        for r in lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .collect()
    }
    assert kern_rows == ref


def test_kcore_kernel_matches_spark_reference(spark):
    import numpy as np

    # crafted: a 4-clique (survives k=3) + a tail path that peels away
    # in cascading rounds
    E = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7)]
    u = np.array([e[0] for e in E], dtype=np.int64)
    v = np.array([e[1] for e in E], dtype=np.int64)
    for _ in range(lb.KCORE_ROUNDS):
        nodes, counts = np.unique(np.r_[u, v], return_counts=True)
        surv = nodes[counts >= lb.KCORE_K]
        keep = np.isin(u, surv) & np.isin(v, surv)
        u, v = u[keep], v[keep]
    nodes, deg = np.unique(np.r_[u, v], return_counts=True)
    got = dict(zip(nodes.tolist(), deg.tolist()))
    # reference: the 4-clique survives with degree 3 each; the tail
    # (degree < 3) peels in round 1 and nothing else follows
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_block_lane_fires_below_cap(spark):
    """At sf0.001 the lineitem pair rows (counted before the kernel
    dedups them) are far below CAPS["graph"], so the registered query
    must return the block plan (one mapInPandas over the projected
    scan, zero exchanges) — and its oracle hash-match at
    sf0.001/0.01/0.1 certifies the kernel's values; here pin the plan
    shape (the rnd(·, 6) twin is pinned in tests/test_lanes.py)."""
    from demo_segmenter_spark.plans.inspect import explain_str

    df = lb.b_graph_pagerank(spark, SF_DIR)
    plan = explain_str(df)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_live_queries_use_block_lane_and_match_committed_shapes(spark):
    """community/kcore at sf0.001: block lane fires (plan has the
    mapInPandas node) and row counts stay sane (non-empty, <= 100)."""
    from demo_segmenter_spark.plans.inspect import explain_str

    for q in ("b_graph_community", "b_graph_kcore"):
        df = lb.__dict__[q](spark, SF_DIR)
        plan = explain_str(df)
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, q
        n = df.count()
        assert 0 < n <= 100, (q, n)
