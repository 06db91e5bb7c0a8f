#!/usr/bin/env python
"""Scale-stress smoke (BASELINE.md): replicate sf0.1 `events` 100x with
disjoint user/event key spaces (same per-user event-time structure,
100x the keys — the shape a large cluster sees) and run the core
sessionization pipeline end-to-end.

Measured 2026-08-13 on local[32]: 10M events -> 4.78M sessions in
4.9 s (~2.0M rows/s through lag -> running-sum -> groupBy, one shuffle
on user_id). Session count scales EXACTLY linearly with replicas
(47,821 per sf0.1 copy), confirming the gap semantics are key-local
and the plan has no cross-key state. (Round 1 reported 3.16M: the
hardcoded user stride of 1000 silently collided replica key spaces —
sf0.1 has ~1005 users — merging cross-replica sessions. Strides now
derive from fixture maxima; the round-1 throughput figure was
correspondingly optimistic by the merge factor.)

Usage: python scripts/scale_smoke.py [replicas=100]
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from demo_segmenter_spark.operators.layer_a import GAP_US
from demo_segmenter_spark.session import get_spark
from demo_segmenter_spark.sources import load_table


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark(app_name="scale_smoke", shuffle_partitions=64)
    ev = load_table(spark, "/root/testdata/sf0.1", "events")

    out = f"/tmp/dss_scale/events_x{reps}"
    t0 = time.time()
    # Replica key spacing derived from the fixture's actual maxima so
    # replicated keys can never collide even if the fixture grows
    # (hardcoded strides silently break the linear-scaling claim).
    maxes = ev.agg(
        F.max("user_id").alias("mu"), F.max("event_id").alias("me")
    ).first()
    user_stride, event_stride = maxes.mu + 1, maxes.me + 1
    big = (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            (F.col("event_id") + F.col("rep") * event_stride).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * user_stride).alias("user_id"),
            "event_type",
            "value",
        )
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(out)
    print(f"materialize {reps}x events: {time.time() - t0:.1f}s")

    ev_big = spark.read.parquet(out)
    n_rows = ev_big.count()

    t0 = time.time()
    user_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev_us = F.lag(us).over(user_w)
    is_new = F.when(prev_us.isNull() | ((us - prev_us) > GAP_US), 1).otherwise(0)
    running = user_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev_big.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    n_sessions = sess.count()
    dt = time.time() - t0
    print(
        f"sessionize+agg {n_rows} events -> {n_sessions} sessions "
        f"in {dt:.1f}s ({n_rows / dt / 1e6:.2f}M rows/s)"
    )

    cc_stress(spark)
    labelprop_stress(spark)
    kcore_stress(spark)
    bfs_stress(spark)
    triangles_stress(spark)
    ann_stress(spark)
    fk_stress(spark)
    mmr_stress(spark)
    skew_stress(spark)
    hot_shingle_stress(spark)
    minhash_banding_stress(spark)
    wire_stress(spark)
    papi_stress(spark)
    ewma_stress(spark)
    bpe_encode_stress(spark)
    dau_stress(spark)
    incremental_dedup_stress(spark)
    range_binned_stress(spark)
    cep_stress(spark)
    para_stress(spark)
    pretrain_stress(spark)
    bitmap_stress(spark)
    pii_batch_stress(spark)
    winnow_stress(spark)
    semdedup_stress(spark)
    ivfpq_stress(spark)
    # round-10 verdict ask #7: the same chain at 2M vectors — g scales
    # sqrt-ish with n (256 cells -> ~7.8k members, nprobe=2 keeps the
    # scored candidate set ~1/128 of the corpus); memory stays bounded
    # because scoring is LUT-only over 16-byte codes and the refine
    # stage fetches floats for the query-proportional shortlist alone
    ivfpq_stress(spark, n=2_000_000, g=256)
    nb_stress(spark)
    substring_rewrite_stress(spark)
    unigram_stress(spark)
    hamming_stress(spark)
    dsir_stress(spark)
    nndescent_stress(spark)
    graph_search_ring_stress(spark)
    graph_layers_stress(spark)
    bloom_stress(spark)
    logreg_stress(spark)
    ivm_stress(spark)
    bloom_join_stress(spark)


def ivm_stress(spark, replicas: int = 64) -> None:
    """b_ivm_agg at a ~12M-row retraction changelog: replicate sf0.1
    orders with DISJOINT orderkey spaces on a stride that is a
    multiple of 70, so every replica key keeps its base residues mod 7
    (deletes) and mod 10 (updates) and the maintained view must be
    EXACTLY replicas x the base view — the linearity any signed-fold
    bug (a retraction pairing lost, a delta double-counted) would
    break. The in-schema direct recompute must equal the maintained
    fold on every group at this scale, same as at fixture sf."""
    import shutil

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base = {
        (r.o_orderstatus, r.o_orderpriority): (r.n_rows, r.sum_price)
        for r in REGISTRY["b_ivm_agg"].fn(spark, sf).collect()
    }
    o = load_table(spark, sf, "orders")
    mx = o.agg(F.max("o_orderkey")).first()[0] + 1
    stride = ((mx + 69) // 70) * 70
    out = "/tmp/dss_scale/ivm"
    shutil.rmtree(out, ignore_errors=True)
    (
        o.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("o_orderkey") + F.col("rep") * stride).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/orders.parquet")
    )
    n_orders = spark.read.parquet(f"{out}/orders.parquet").count()
    # the changelog is ~131% of the base table (inserts + n/7 deletes +
    # retraction pairs for the 6/70 updated keys) — the unit the fold's
    # throughput is quoted in; approximate only in the last digit
    # (residue classes of the real keyspace vs uniform)
    n_changes = round(n_orders * (1 + 1 / 7 + 2 * (1 / 10 - 1 / 70)))
    t0 = time.time()
    rows = REGISTRY["b_ivm_agg"].fn(spark, out).collect()
    dt = time.time() - t0
    for r in rows:
        assert r.n_rows == r.n_direct, r
        assert r.sum_price == r.sum_direct, r
        bn, _ = base[(r.o_orderstatus, r.o_orderpriority)]
        assert r.n_rows == replicas * bn, (r, bn)
    print(
        f"ivm {n_changes} changelog rows over {n_orders} orders "
        f"({replicas}x disjoint keys, stride%70==0): maintained == "
        f"direct == exactly {replicas}x base on all {len(rows)} groups "
        f"in {dt:.1f}s ({n_changes / dt / 1e6:.2f}M deltas/s)"
    )
    shutil.rmtree(out, ignore_errors=True)
    spark.catalog.clearCache()


def bloom_join_stress(spark, replicas: int = 17) -> None:
    """b_join_bloom_pushdown at a ~10M-row probe side: lineitem
    replicated with DISJOINT orderkey spaces while orders stays base —
    the steady-state crawl shape where almost every probe row is
    novel. The gated rollup must EXACTLY equal the base run's rollup
    (replica keys can only be false positives, never joins — any
    fp leaking through the verification join would change revenue),
    and the filter must hold its design point: candidates ~ matches +
    fp x novel rows, a ~100x reduction of what reaches the join."""
    import shutil

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base_rows = {
        r.l_returnflag: (r.n_joined, r.revenue)
        for r in REGISTRY["b_join_bloom_pushdown"].fn(spark, sf).collect()
    }
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    mx = o.agg(F.max("o_orderkey")).first()[0] + 1
    out = "/tmp/dss_scale/bloomjoin"
    shutil.rmtree(out, ignore_errors=True)
    (
        li.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("l_orderkey") + F.col("rep") * mx).alias("l_orderkey"),
            "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )
    o.write.mode("overwrite").parquet(f"{out}/orders.parquet")
    n_probe = spark.read.parquet(f"{out}/lineitem.parquet").count()
    t0 = time.time()
    rows = REGISTRY["b_join_bloom_pushdown"].fn(spark, out).collect()
    dt = time.time() - t0
    n_cand = rows[0].n_candidates
    n_matches = sum(r.n_joined for r in rows)
    for r in rows:
        bj, brev = base_rows[r.l_returnflag]
        assert (r.n_joined, r.revenue) == (bj, brev), (r, bj, brev)
    fp_rows = n_cand - n_matches
    print(
        f"bloom_join {n_probe} probe rows x {rows[0].n_build_keys} build "
        f"keys ({replicas}x novel-key probe): gated rollup == base "
        f"exactly on all {len(rows)} flags, candidates {n_cand} "
        f"({n_cand / n_probe:.4f}x of probe, {fp_rows} fp rows) "
        f"in {dt:.1f}s ({n_probe / dt / 1e6:.2f}M rows/s)"
    )
    shutil.rmtree(out, ignore_errors=True)
    spark.catalog.clearCache()


def nndescent_stress(
    spark,
    n: int = 200_000,
    g: int = 20_000,
    rounds: int = 2,
    nd_rows: int = 18,
    nd_bands: int = 8,
) -> None:
    """NN-descent kNN-graph build at 200k vectors on PLANTED clusters
    (round-11 verdict ask #4): vector i = center(i % g) + small noise
    (hamming_stress's splitmix generator — sibling cos >= 0.9992,
    cross-center p99 0.297), cluster size n/g = 10, so every vector's
    true 5-NN are its siblings. Runs the REAL operator machinery
    (_nd_score_pairs / _nd_topk / _nd_sym / _nd_round from layer_c) —
    only the LSH seeding widens to nd_rows=18 sign bits x 8 bands: the
    fixture's 6-bit bands mean 64 buckets/band, which saturate past
    ~6.4k vectors (cap x buckets) — RHP_ROWS ~ log2(n) is the
    documented production scaling and this smoke is where it is
    EXERCISED. Pins planted recall@5 (graph edges landing inside the
    vector's true cluster) and prints build rate."""
    from demo_segmenter_spark.operators.layer_c import (
        ND_K,
        SHINGLE_DF_CAP,
        _nd_matrix,
        _nd_round,
        _nd_score_pairs,
        _nd_sym,
        _nd_topk,
        _rhp_plane,
    )
    from demo_segmenter_spark.functions.vectors import dot

    t0 = time.time()
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform("
                f"  transform(sequence(1, 64), d -> struct("
                f"    ((id % {g}) * 64 + d) * 2654435761 % 1000003 AS z,"
                f"    d AS d)),"
                f"  s -> CAST(((s.z ^ (s.z DIV 4096)) * 48271 % 1000003)"
                f"       % 2000 AS DOUBLE) / 1000.0 - 1.0"
                f"     + CAST(((id * 48271 + s.d * 9973) % 1000003) % 100"
                f"       AS DOUBLE) / 2000.0 - 0.025)"
            ).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .repartition(64)
        .persist()
    )
    n_built = base.count()
    t_build = time.time() - t0

    # wide RHP seeding: md5-derived planes (the fixture's _rhp_plane,
    # just more of them), one numpy matmul per Arrow batch, nd_rows
    # sign bits packed per band key
    w = np.array([_rhp_plane(h) for h in range(nd_rows * nd_bands)])
    weights = 1 << np.arange(nd_rows)

    @F.pandas_udf("array<long>")
    def buckets_udf(emb: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(val, dtype=np.float64) for val in emb])
        bits = (x @ w.T) > 0
        bk = (bits.reshape(len(x), nd_bands, nd_rows) * weights).sum(axis=2)
        return pd.Series(list(bk))

    t0 = time.time()
    bk = base.select(
        "vec_id", F.posexplode(buckets_udf("v")).alias("band", "bucket")
    )
    # per-bucket sorted id lists, pairs expanded IN-PARTITION (i < j)
    # — one grouped exchange instead of window-count + self-join; the
    # same (va < vb) pair set with the same SHINGLE_DF_CAP bound
    grp = (
        bk.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= SHINGLE_DF_CAP))
    )
    pairs_col = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("va"), y.alias("vb")),
            ),
        )
    )
    cand = (
        grp.select(F.explode(pairs_col).alias("p"))
        .select(F.col("p.va").alias("va"), F.col("p.vb").alias("vb"))
        .distinct()
    )
    # block-matrix scoring (n=200k ≤ ND_MAT_CAP) + incremental rounds
    # threading the cumulative scored-pair table — the round-12 build
    # machinery, same final graph as the full-rescore form
    mat = _nd_matrix(base)
    ps0 = _nd_score_pairs(base, cand, mat).localCheckpoint()
    gdf = _nd_topk(_nd_sym(ps0)).localCheckpoint()
    scored = ps0
    for _ in range(rounds):
        gdf, scored = _nd_round(base, gdf, scored, mat)
    planted = gdf.select(
        "v",
        (F.col("v") % g == F.col("u") % g).cast("int").alias("in_cluster"),
    )
    per_vec = planted.groupBy("v").agg(
        F.sum("in_cluster").alias("hits"), F.count("*").alias("deg")
    )
    agg = per_vec.agg(
        F.count("*").alias("n_vec"),
        (F.sum("hits") / (F.count("*") * ND_K)).alias("recall"),
        F.min("deg").alias("min_deg"),
    ).first()
    t_graph = time.time() - t0
    print(
        f"nndescent {n_built} vectors (planted g={g}, {rounds} rounds,"
        f" {nd_rows}x{nd_bands} seeding): build {t_build:.1f}s,"
        f" graph {t_graph:.1f}s ({n_built / t_graph / 1e3:.1f}k vec/s),"
        f" covered {agg.n_vec}/{n_built}, planted recall@{ND_K}"
        f" {agg.recall:.3f}, min_deg {agg.min_deg}"
    )
    assert agg.n_vec == n_built, (agg.n_vec, n_built)
    assert agg.recall >= 0.98, agg.recall

    base.unpersist()
    for b in mat:
        b.unpersist()
    from demo_segmenter_spark.functions.cache import release_persisted

    # the incremental build leaves per-round checkpoints (graph +
    # cumulative scored table) — release them so later smoke rows in
    # the shared session don't inherit the memory pressure (measured:
    # a second un-released build in one session GC-thrashed to 5x)
    release_persisted(spark, owner=True)


def bloom_stress(
    spark,
    n_corpus: int = 1_000_000,
    n_inc: int = 1_000_000,
    dup_den: int = 5,
    m_bits: int = 14_400_000,
    k: int = 3,
) -> None:
    """Bloom pre-filtered dedup at 1M corpus x 1M incoming with PLANTED
    duplicates (round-11 verdict ask #6): every incoming doc with
    id % dup_den == 0 byte-duplicates corpus doc (id DIV dup_den) %
    n_corpus; the rest are fresh. Runs c_dedup_bloom's exact pipeline
    shape — md5 content hashes, three 32-bit hex-window positions,
    {BLOOM_W}-bit word-packed bit_or build, broadcast probe,
    verification join gated to bloom hits — with the filter SIZED FOR
    THE LOAD (m = 14.4M bits ~ 14.4 bits/key at 1M keys -> designed fp
    (1-e^(-kn/m))^k = (1-e^-0.2083)^3 ~ 0.66%; the fixture constant
    BLOOM_M is fixture-sized by the same curve). Pins: exact
    planted-dup count
    (zero false negatives, the Bloom guarantee), measured fp rate
    within 2x of the design curve, and the verify-join row count vs
    the no-filter lower bound (n_inc)."""
    import math

    from demo_segmenter_spark.operators.layer_c import BLOOM_W

    t0 = time.time()
    corpus = (
        spark.range(n_corpus)
        .select(F.md5(F.concat(F.lit("corpus doc "), F.col("id"))).alias("h"))
        .repartition(64)
        .persist()
    )
    n_c = corpus.count()
    incoming = (
        spark.range(n_inc)
        .select(
            F.col("id").alias("doc_id"),
            F.md5(
                F.when(
                    F.col("id") % dup_den == 0,
                    F.concat(
                        F.lit("corpus doc "),
                        (F.col("id") / dup_den).cast("long") % n_corpus,
                    ),
                ).otherwise(F.concat(F.lit("fresh doc "), F.col("id")))
            ).alias("h"),
        )
        .repartition(64)
        .persist()
    )
    n_i = incoming.count()
    t_build = time.time() - t0

    t0 = time.time()
    j = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    pos = (
        F.conv(F.expr("substr(h, 8 * j - 7, 8)"), 16, 10).cast("long") % m_bits
    )
    bloom = (
        corpus.select("h", j)
        .select(pos.alias("pos"))
        .distinct()
        .groupBy(F.expr(f"pos DIV {BLOOM_W}").alias("wi"))
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(pos % {BLOOM_W} AS INT))"
                )
            ).alias("w")
        )
    )
    probe = incoming.select("doc_id", "h", j).select(
        "doc_id", "h", pos.alias("pos")
    )
    hit_j = F.when(
        F.col("w").isNotNull()
        & (F.expr(f"(w >> CAST(pos % {BLOOM_W} AS INT)) & 1") == 1),
        1,
    ).otherwise(0)
    hits = (
        probe.join(
            F.broadcast(bloom),
            F.expr(f"pos DIV {BLOOM_W}") == F.col("wi"),
            "left",
        )
        .select("doc_id", "h", hit_j.alias("hj"))
        .groupBy("doc_id", "h")
        .agg(F.min("hj").alias("bloom_hit"))
        .persist()
    )
    matched = (
        hits.filter(F.col("bloom_hit") == 1)
        .join(corpus.select("h").distinct(), "h", "left_semi")
        .select("doc_id", F.lit(1).alias("is_dup"))
    )
    agg = (
        hits.join(matched, "doc_id", "left")
        .agg(
            F.count("*").alias("n"),
            F.sum("bloom_hit").alias("n_hits"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup"),
            F.sum(
                ((F.col("bloom_hit") == 1) & F.col("is_dup").isNull()).cast(
                    "int"
                )
            ).alias("n_fp"),
        )
        .first()
    )
    t_dedup = time.time() - t0

    planted = n_inc // dup_den + (1 if n_inc % dup_den else 0)
    fp_rate = agg.n_fp / (n_i - planted)
    designed = (1.0 - math.exp(-k * n_c / m_bits)) ** k
    verify_rows = agg.n_dup + agg.n_fp  # rows that reached the hash join
    print(
        f"bloom {n_c} corpus x {n_i} incoming (planted {planted} dups,"
        f" m={m_bits} bits ~ {m_bits / 8 / 1e6:.1f}MB broadcast):"
        f" build {t_build:.1f}s, dedup {t_dedup:.1f}s"
        f" ({n_i / t_dedup / 1e3:.0f}k docs/s), dups {agg.n_dup},"
        f" fp rate {fp_rate:.4f} (designed {designed:.4f}),"
        f" verify join fed {verify_rows} rows vs {n_i} unfiltered"
        f" ({verify_rows / n_i:.3f}x)"
    )
    assert agg.n == n_i
    assert agg.n_dup == planted, (agg.n_dup, planted)  # zero false negatives
    assert agg.n_hits == verify_rows
    assert 0.5 * designed <= fp_rate <= 2.0 * designed, (fp_rate, designed)
    assert verify_rows < 0.3 * n_i, verify_rows
    corpus.unpersist()
    incoming.unpersist()
    hits.unpersist()


def logreg_stress(spark, n_docs: int = 1_000_000) -> None:
    """Unrolled-GD logistic regression at 1M docs with a PLANTED
    linearly-separable margin (round-11): half the corpus has nt = 40
    (label pass — distinct words keep dup = 0, one leading stopword
    keeps sr = 1/nt >= 0.01), half nt = 12 (label fail via the length
    rule), so the heuristic label reduces to the single length margin
    and a correct GD must drive held-out accuracy to ~1.0. Runs the
    REGISTERED query end-to-end against a generated documents.parquet
    (the operator is corpus-agnostic), pinning accuracy and the
    docs/s rate of the full 3-round train + corpus-wide score."""
    import shutil
    import uuid

    from demo_segmenter_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    base = f"/tmp/dss_lr_stress/{uuid.uuid4().hex[:8]}"
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("the "),
                F.expr(
                    "concat_ws(' ', transform("
                    " sequence(1, CASE WHEN id % 2 = 0 THEN 39 ELSE 11 END),"
                    " j -> concat('w', CAST(id AS STRING), '_',"
                    "             CAST(j AS STRING))))"
                ),
            ).alias("text"),
        )
        .repartition(64)
        .write.parquet(f"{base}/documents.parquet")
    )
    t_build = time.time() - t0
    t0 = time.time()
    rows = (
        REGISTRY["c_quality_logreg"]
        .fn(spark, base)
        .groupBy("is_train", (F.col("pred") == F.col("label")).alias("ok"))
        .count()
        .collect()
    )
    t_run = time.time() - t0
    cnt = {(r["is_train"], r["ok"]): r["count"] for r in rows}
    acc_t = cnt.get((True, True), 0) / (
        cnt.get((True, True), 0) + cnt.get((True, False), 0)
    )
    acc_h = cnt.get((False, True), 0) / (
        cnt.get((False, True), 0) + cnt.get((False, False), 0)
    )
    print(
        f"logreg {n_docs} docs (planted separable length margin):"
        f" build {t_build:.1f}s, train+score {t_run:.1f}s"
        f" ({n_docs / t_run / 1e3:.0f}k docs/s),"
        f" train acc {acc_t:.4f}, heldout acc {acc_h:.4f}"
    )
    assert acc_t >= 0.99, acc_t
    assert acc_h >= 0.99, acc_h
    shutil.rmtree(base, ignore_errors=True)


def graph_search_ring_stress(
    spark, n: int = 200_000, n_q: int = 50, tol: int = 64
) -> None:
    """Graph SEARCH at 200k vectors on a NAVIGABLE geometry (round-11;
    c_sim_graph_search's serving machinery): the cluster-planted build
    smoke is deliberately NON-navigable for search — orthogonal
    clusters give a disconnected kNN graph with zero similarity
    gradient between clusters, where no graph algorithm (HNSW
    included) can do better than random exploration (measured: beam
    search recall 0.000 there — recorded as the diagnosis, not a
    bug). Serving claims need the geometry real embeddings have:
    smooth local structure. Here vectors sit on a unit circle
    (sim(i,j) = cos of the ring gap — monotone gradient everywhere),
    the graph is the true ring kNN (i±1, i±2) PLUS multi-scale
    small-world skips (i+7^k — Kleinberg's navigability construction,
    what HNSW's layer hierarchy supplies in production), and the
    EXACT search machinery from c_sim_graph_search (fixed entries,
    beam, bounded hops, micro-unit scores) must land every query
    inside the micro-quantization plateau of its true neighborhood
    (ring distance <= tol; cos gaps below 1e-6 quantize equal, so
    'exact top-5' is undefined inside ~45 ring steps by design).
    Pins recall and the per-query bounded work claim (hops x beam x
    degree scorings, corpus-size-independent)."""
    from pyspark.sql import Window

    from demo_segmenter_spark.functions.vectors import dot
    from demo_segmenter_spark.operators.layer_c import GS_BEAM, GS_ENTRIES

    hops = 12  # log_7(n) + slack: each hop can shrink the gap ~7x
    t0 = time.time()
    two_pi = 6.283185307179586
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"array(cos({two_pi!r} * id / {n}),"
                f" sin({two_pi!r} * id / {n}),"
                " CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
            ).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .repartition(64)
        .persist()
    )
    n_built = base.count()
    # ring kNN edges + multi-scale skips (both directions)
    scales = [1, 2, 7, 49, 343, 2401, 16807, 117649]
    gdf = (
        spark.range(n)
        .select(
            F.col("id").alias("v"),
            F.explode(
                F.array(*[F.lit(x) for s in scales for x in (s, -s)])
            ).alias("d"),
        )
        .select("v", ((F.col("v") + F.col("d")) % n + n) % n)
        .toDF("v", "u")
        .filter(F.col("u") != F.col("v"))
        .persist()
    )
    gdf.count()
    t_build = time.time() - t0

    t0 = time.time()
    recall, n_rows = _ring_serve(base, gdf, n, n_q, hops, tol)
    t_search = time.time() - t0
    print(
        f"graph search (ring + small-world skips) {n_built} vectors,"
        f" {n_q} queries, beam {GS_BEAM}, {hops} hops: build"
        f" {t_build:.1f}s, search {t_search:.1f}s, recall@5(tol={tol})"
        f" {recall:.3f}"
    )
    assert n_rows == n_q * 5, n_rows
    assert recall >= 0.95, recall
    base.unpersist()
    gdf.unpersist()


def _ring_serve(base, gdf, n, n_q, hops, tol):
    """Shared ring-geometry beam serve: spread queries (one per
    n//n_q arc), GS_ENTRIES fixed entries, GS_BEAM beam, bounded
    hops over the given (v, u) graph; returns (recall@5 within ring
    distance tol, rows). The walk is the registered queries' exact
    beam dataflow with the query block generalized to spread ids."""
    from pyspark.sql import Window

    from demo_segmenter_spark.functions.vectors import dot
    from demo_segmenter_spark.operators.layer_c import GS_BEAM, GS_ENTRIES

    qs = base.filter(F.col("vec_id") % (n // n_q) == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cs = base.select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )

    def beam(cand):
        sm = F.round(
            dot(F.col("qv"), F.col("cv"))
            / (F.col("qn") * F.col("cn"))
            * 1_000_000
            + F.lit(1e-4)
        ).cast("long")
        w_b = Window.partitionBy("query_id").orderBy(
            F.col("sm").desc(), "vec_id"
        )
        return (
            cand.join(cs, cand["vec_id"] == cs["cid"])
            .join(F.broadcast(qs), "query_id")
            .select("query_id", "vec_id", sm.alias("sm"))
            .withColumn("rk", F.row_number().over(w_b))
            .filter(F.col("rk") <= GS_BEAM)
            .select("query_id", "vec_id", "sm")
        )

    ent = base.filter(F.col("vec_id") < GS_ENTRIES).select("vec_id")
    f = beam(
        qs.select("query_id")
        .crossJoin(F.broadcast(ent))
        .filter(F.col("vec_id") != F.col("query_id"))
    ).localCheckpoint()
    for _ in range(hops):
        expand = (
            f.join(gdf, f["vec_id"] == gdf["v"])
            .filter(F.col("u") != F.col("query_id"))
            .select("query_id", F.col("u").alias("vec_id"))
        )
        cand = f.select("query_id", "vec_id").unionByName(expand).distinct()
        f = beam(cand).localCheckpoint()
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("sm").desc(), "vec_id"
    )
    ring_gap = F.least(
        F.abs(F.col("query_id") - F.col("vec_id")),
        F.lit(n) - F.abs(F.col("query_id") - F.col("vec_id")),
    )
    top = (
        f.withColumn("rk", F.row_number().over(w_f))
        .filter(F.col("rk") <= 5)
        .select("query_id", (ring_gap <= tol).cast("int").alias("ok"))
    )
    agg = top.agg(
        (F.sum("ok") / F.count("*")).alias("recall"),
        F.count("*").alias("n_rows"),
    ).first()
    return agg.recall, agg.n_rows


def graph_layers_stress(
    spark, n: int = 200_000, n_q: int = 50, tol: int = 64
) -> None:
    """LAYERED skip-edge ANN at 200k on the ring (round-12, verdict
    r11 ask #1's scale half) — the REGISTERED c_sim_graph_layers
    construction end to end at 100x the fixture: the base kNN graph
    is built by the REAL NN-descent machinery (block-matrix scoring,
    one incremental _nd_round refinement over id-window seeds), the
    REGISTERED _gl_skip_edges helper adds 7 stride levels
    (~log7(200k) — the production scales~log(n) rule the fixture
    query pins at 4 levels), and the shared beam walk must land every
    spread query inside its true ring neighborhood. The FLAT
    NN-descent graph provably cannot (ring kNN reaches ±2 ids per
    hop; 12 hops cover ≤24 of 200k) — printed as the contrast — so
    the recall gap IS the navigability the skip layers buy."""
    from demo_segmenter_spark.functions.cache import release_persisted
    from demo_segmenter_spark.functions.vectors import dot
    from demo_segmenter_spark.operators.layer_c import (
        GS_BEAM,
        _gl_skip_edges,
        _nd_matrix,
        _nd_round,
        _nd_score_pairs,
        _nd_sym,
        _nd_topk,
    )

    hops = 12
    t0 = time.time()
    two_pi = 6.283185307179586
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"array(cos({two_pi!r} * id / {n}),"
                f" sin({two_pi!r} * id / {n}),"
                " CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
            ).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .repartition(64)
        .persist()
    )
    n_built = base.count()
    # id-window seeds (i, i+k) k<=4 — deliberately weak local seeding
    # (RHP-LSH saturates on a 2D manifold: ~36 sign regions per band);
    # the REAL build machinery scores/refines them exactly as the
    # registered query does
    cand = (
        spark.range(n)
        .select(
            F.col("id").alias("va"),
            F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4)])).alias("k"),
        )
        .select("va", ((F.col("va") + F.col("k")) % n).alias("vb"))
        .select(
            F.least("va", "vb").alias("va"), F.greatest("va", "vb").alias("vb")
        )
        .distinct()
    )
    mat = _nd_matrix(base)
    ps0 = _nd_score_pairs(base, cand, mat).localCheckpoint()
    gdf = _nd_topk(_nd_sym(ps0)).localCheckpoint()
    gdf, _ = _nd_round(base, gdf, ps0, mat)
    scales = tuple(7**k for k in range(7))  # 1 .. 117649
    gl = (
        gdf.select("v", "u")
        .unionByName(_gl_skip_edges(base, n, scales))
        .distinct()
        .persist()
    )
    gl.count()
    t_build = time.time() - t0

    t0 = time.time()
    recall_flat, _ = _ring_serve(base, gdf.select("v", "u"), n, n_q, hops, tol)
    recall_lay, n_rows = _ring_serve(base, gl, n, n_q, hops, tol)
    t_search = time.time() - t0
    print(
        f"graph layers (NN-descent + {len(scales)} skip levels)"
        f" {n_built} vectors, {n_q} queries, beam {GS_BEAM}, {hops}"
        f" hops: build {t_build:.1f}s, search {t_search:.1f}s,"
        f" recall@5(tol={tol}) layered {recall_lay:.3f} vs flat"
        f" {recall_flat:.3f}"
    )
    assert n_rows == n_q * 5, n_rows
    assert recall_lay >= 0.95, recall_lay
    assert recall_lay > recall_flat + 0.5, (recall_lay, recall_flat)
    base.unpersist()
    gl.unpersist()
    for b in mat:
        b.unpersist()
    release_persisted(spark, owner=True)


def dsir_stress(spark, n_docs: int = 1_000_000, keep_den: int = 5) -> None:
    """DSIR importance selection at 1M docs with a PLANTED target
    domain: 20% of docs are lang=en drawing 20 words from vocab ids
    0..299, the rest draw from 200..499 (a 100-word overlap so the
    models must actually separate, not memorize). Runs c_select_dsir's
    exact shape — hashed uni+bigram features, one-pass two-model fit
    into 512 buckets, micro-nat log-ratio broadcast scoring, top-1/5
    cut — and pins that the kept slice is en-dominated plus the
    docs/s rate of the whole fit+score+rank pipeline."""
    from pyspark.sql import Window

    from demo_segmenter_spark.operators.layer_c import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        _dsir_feats,
        _dsir_tail,
    )

    t0 = time.time()
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.when((F.col("id") % 5) == 0, F.lit("en"))
            .otherwise(F.lit("xx"))
            .alias("lang"),
            F.expr(
                "concat_ws(' ', transform(sequence(1, 20), w -> concat('w',"
                " CAST((id * 48271 + w * 2654435761) % 1000003 % 300"
                " + CASE WHEN id % 5 = 0 THEN 0 ELSE 200 END AS STRING))))"
            ).alias("text"),
        )
        .repartition(64)
        .persist()
    )
    n_built = docs.count()
    t_build = time.time() - t0

    t0 = time.time()
    # NO persist on the 39M-row feature stream: the fit and scoring
    # passes recompute the expression-only explode+md5 instead of
    # caching 39M rows (persist-vs-recompute measured within box
    # noise here; warm steady-state 11.4s/1M docs either way, and at
    # 100 TB the cache write is the cost a deployment avoids).
    feats = _dsir_feats(docs)
    cnt = feats.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    out = _dsir_tail(docs, feats, cnt)
    sel = (
        out.filter(F.col("selected") == 1)
        .groupBy("lang")
        .count()
        .collect()
    )
    dt = time.time() - t0
    shares = {r["lang"]: r["count"] for r in sel}
    n_sel = sum(shares.values())
    en_share = shares.get("en", 0) / n_sel
    print(
        f"dsir {n_built} docs (20% planted en): build {t_build:.1f}s,"
        f" fit+score+rank {dt:.1f}s ({n_built / dt / 1e6:.2f}M docs/s),"
        f" kept {n_sel} docs, en share {en_share:.3f}"
    )
    assert n_sel == -(-n_built // keep_den)
    assert en_share >= 0.95, en_share
    docs.unpersist()


def hamming_stress(
    spark, n: int = 1_000_000, g: int = 100_000, n_q: int = 20, k: int = 10
) -> None:
    """Binary-signature ANN at 1M vectors on PLANTED clusters — the
    corpus where sign-bit search must shine (the sf0.1 fixture's
    shallow spectrum structurally caps its recall at ~0.47, measured
    and documented in tests/test_ann.py): vector i = center(i % g) +
    small noise, so true neighbors share the center and therefore the
    sign pattern. Cluster size n/g = 10 stays below the shortlist (a
    1000-member first cut showed WHY that matters: with the whole
    shortlist at hamming~0 inside one cluster, the tie order is
    arbitrary and recall collapsed to 0.35 — the shortlist must
    exceed the duplicate-class size, or nprobe-style widening has to
    kick in). Runs c_sim_hamming's exact shape — integer-micro
    mean-threshold bits, two 32-bit packed words, bit_count(xor)
    shortlist@100, exact-cosine refine@k — and pins recall@k against
    brute force. The Hamming stage touches 16 bytes/vector; the float
    fetch happens only for the 100-row-per-query shortlist."""
    from pyspark.sql import Window

    from demo_segmenter_spark.functions.vectors import dot

    t0 = time.time()
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            # splitmix-style (c,d) hash: multiply, XOR-fold, multiply
            # again mod a large prime before the small modulus. The
            # xor is load-bearing — ANY chain of multiplies/mods alone
            # stays LINEAR in d ((A + dB) mod p, same stride B for
            # every center), making all vectors shifted copies of one
            # sawtooth: the first two attempts collapsed recall to
            # 0.35/0.015 exactly that way. Statistics validated in
            # numpy over thousands of pairs: sibling cos >= 0.9992 /
            # ham <= 2, cross-center cos p99 0.297 / ham >= 23.
            F.expr(
                f"transform("
                f"  transform(sequence(1, 64), d -> struct("
                f"    ((id % {g}) * 64 + d) * 2654435761 % 1000003 AS z,"
                f"    d AS d)),"
                f"  s -> CAST(((s.z ^ (s.z DIV 4096)) * 48271 % 1000003)"
                f"       % 2000 AS DOUBLE) / 1000.0 - 1.0"
                f"     + CAST(((id * 48271 + s.d * 9973) % 1000003) % 100"
                f"       AS DOUBLE) / 2000.0 - 0.025)"
            ).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .withColumn(
            "m",
            F.transform(
                F.col("v"),
                lambda x: F.round(x * 1_000_000 + F.lit(1e-4)).cast("long"),
            ),
        )
        .withColumn(
            "tot",
            F.aggregate(
                F.col("m"), F.lit(0).cast("long"), lambda a, x: a + x
            ),
        )
        .withColumn(
            "w0",
            F.aggregate(
                F.sequence(F.lit(31), F.lit(0), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc * 2
                + F.when(
                    F.element_at(F.col("m"), j + 1) * 64 > F.col("tot"),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
        )
        .withColumn(
            "w1",
            F.aggregate(
                F.sequence(F.lit(63), F.lit(32), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc * 2
                + F.when(
                    F.element_at(F.col("m"), j + 1) * 64 > F.col("tot"),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
        )
        .drop("m", "tot")
        .persist()
    )
    n_built = base.count()
    t_build = time.time() - t0

    qs = base.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    t0 = time.time()
    exact = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
    )
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    t_exact = time.time() - t0

    t0 = time.time()
    ham = F.expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)")
    short_w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    # The float cosine is computed AFTER the hr<=100 shortlist filter —
    # exactly as the real operator (c_sim_hamming) defers its dot to the
    # shortlist — so the timed stage measures popcount-shortlist + a
    # 100-row-per-query refine, not n·n_q exact cosines.
    hm = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"), "qv", "v", "qn", "nrm")
        .withColumn("hr", F.row_number().over(short_w))
        .filter(F.col("hr") <= 100)
        .withColumn("cos_sim", cos)
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
    )
    hm_set = {(r.query_id, r.vec_id) for r in hm.collect()}
    t_ham = time.time() - t0
    recall = len(hm_set & exact_set) / len(exact_set)
    print(
        f"hamming {n_built} vectors x {n_q} queries top-{k} "
        f"(planted g={g}): build+sign {t_build:.1f}s, exact {t_exact:.1f}s, "
        f"hamming shortlist@100+refine {t_ham:.1f}s "
        f"({n_built / t_ham / 1e6:.2f}M vec/s), recall@{k} {recall:.2f}"
    )
    assert recall >= 0.95, recall
    base.unpersist()


def papi_stress(spark, replicas: int = 10) -> None:
    """Custom-stateful-processor (PAPI) throughput: gap sessionization
    through applyInPandasWithState over replicas × 100k events with
    disjoint user key spaces — the streaming-state path's end-to-end
    rate (state store + Arrow key-group batches + vectorized per-key
    state machine). Ground truth: session count must equal replicas ×
    the sf0.1 session count (47,821), same linearity anchor as the
    batch sessionize row."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from demo_segmenter_spark.sources import load_table
    from demo_segmenter_spark.streaming.papi import papi_sessionize

    base = "/tmp/dss_scale/papi"
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    maxes = ev.agg(
        F.max("user_id").alias("mu"), F.max("event_id").alias("me")
    ).first()
    big = (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            (F.col("event_id") + F.col("rep") * (maxes.me + 1)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * (maxes.mu + 1)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
    )
    os.makedirs(base)
    # write µs timestamps (not INT96) so the stream source's footer
    # sniffer takes the same path as the fixture's later drops
    prev_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        big.coalesce(1).write.parquet(f"{base}/_tmp")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tt)
    part = next(
        f for f in os.listdir(f"{base}/_tmp") if f.endswith(".parquet")
    )
    os.rename(f"{base}/_tmp/{part}", f"{base}/events.parquet")

    n_rows = big.count()
    t0 = time.time()
    out = papi_sessionize(spark, base)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id", "session_id").alias("n_sess"),
    ).first()
    dt = time.time() - t0
    assert agg.n == n_rows, (agg.n, n_rows)
    assert agg.n_sess == replicas * 47_821, agg.n_sess
    print(
        f"papi stateful sessionize: {n_rows} events through "
        f"applyInPandasWithState -> {agg.n_sess} sessions in {dt:.1f}s "
        f"({n_rows / dt / 1e6:.2f}M rows/s, streaming state store path)"
    )
    shutil.rmtree(base, ignore_errors=True)


def wire_stress(spark, replicas: int = 50, n_parts: int = 16) -> None:
    """Kafka-shaped wire path at scale: replicate the sf0.1 events file
    into an append-only log (replicas × ~100k records), consume the
    whole topic through the events_log source (Arrow RecordBatch read
    path, offset bookkeeping, key-hash partitions) into a parquet sink
    with exactly-once checkpointing. The printed rate is END-TO-END
    (source planning + executor reads + sink commit), the number to
    hold against BASELINE.md's Kafka Streams single-node anchor of
    O(10⁴–10⁵) records/s."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from demo_segmenter_spark.sources.kafka_shape import register

    base = "/tmp/dss_scale/wire"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(f"{base}/log")
    t = pq.read_table("/root/testdata/sf0.1/events.parquet")
    for i in range(replicas):
        pq.write_table(t, f"{base}/log/chunk_{i:03d}.parquet")
    register(spark)

    t0 = time.time()
    stream = (
        spark.readStream.format("events_log")
        .option("path", f"{base}/log")
        .option("partitions", str(n_parts))
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
    dt = time.time() - t0
    n = spark.read.parquet(f"{base}/out").count()
    want = t.num_rows * replicas
    assert n == want, (n, want)
    print(
        f"events_log wire path: {n} records through source->sink "
        f"(availableNow, {n_parts} partitions, exactly-once checkpoint) "
        f"in {dt:.1f}s = {n / dt / 1000:.0f}k records/s end-to-end"
    )
    shutil.rmtree(base, ignore_errors=True)


def hot_shingle_stress(spark, n_docs: int = 100_000) -> None:
    """Boilerplate-shingle blowup at scale: n_docs documents ALL share
    one boilerplate sentence (every one of its shingles has df=n_docs —
    the cookie-banner/license-header shape of 100 TB web text), which
    uncapped would emit ~n_docs²/2 candidate pairs PER SHINGLE (5×10⁹
    at 10⁵ docs — the job that OOMs or runs for hours). With
    SHINGLE_DF_CAP active the grouped-pairs plan must instead:
    - drop the hot shingles before any array is built (window df
      filter, spillable);
    - keep a planted warm shingle group at EXACTLY df=cap and emit its
      full C(cap, 2) pairs (the bound is tight, not a silent drop);
    - surface a planted rare near-dup pair untouched.
    Ground truth: C(cap,2) warm pairs + 1 planted pair, nothing else."""
    from demo_segmenter_spark.operators.layer_c import (
        SHINGLE_DF_CAP,
        _shingle_doc_table,
        _shingle_pairs,
        _shingles,
    )

    cap = SHINGLE_DF_CAP
    boiler = "all rights reserved by the demo corpus banner notice text"
    warm = "warm sentence shared by exactly cap documents for bound check"
    t0 = time.time()
    # Every doc: boilerplate + 12 tokens unique to the doc. The first
    # `cap` docs also append the warm sentence (df == cap, kept).
    filler = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"u{j}x"), F.col("id").cast("string"))
            for j in range(12)
        ],
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " "),
            filler,
            F.when(F.col("id") < cap, F.lit(" " + warm)).otherwise(F.lit("")),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
    )
    dup = " ".join(f"rare{j}" for j in range(42))
    planted = spark.createDataFrame(
        [(10_000_000, dup, "en", "web"), (10_000_001, dup + " tail", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    docs = docs.unionAll(planted)

    pairs = _shingle_pairs(_shingle_doc_table(docs, _shingles()))
    n_pairs = pairs.count()
    dt = time.time() - t0
    warm_pairs = cap * (cap - 1) // 2
    # C(cap,2) from the warm group + the planted pair; boundary
    # shingles straddling boiler|filler are doc-unique (df=1).
    assert n_pairs == warm_pairs + 1, (n_pairs, warm_pairs + 1)
    got = pairs.filter(F.col("doc_a") == 10_000_000).first()
    assert got is not None and got.inter == 40, got
    print(
        f"hot-shingle cap: {n_docs} docs sharing one boilerplate sentence "
        f"-> {n_pairs} candidate pairs in {dt:.1f}s "
        f"(uncapped lower bound ~{8 * n_docs * (n_docs - 1) // 2:,} pair "
        f"emissions; cap bounds every shingle at C({cap},2)={warm_pairs}, "
        f"planted near-dup pair fully visible)"
    )


def minhash_banding_stress(spark, n_docs: int = 100_000) -> None:
    """Native MinHash banding at scale (the hot-shingle stress covers
    the grouped-pairs cap; this covers the BANDING pipeline feeding
    it): n_docs documents of unique text plus ONE planted near-dup
    pair at Jaccard 38/39 ≈ 0.974 (analytic band-miss 1e-8) through
    the full _minhash_verified_pairs path. Asserts:
    - the planted pair is the ONLY verified output (unique docs never
      reach Jaccard 0.5, and false band collisions are removed by the
      exact verify);
    - the candidate count stays bounded: random 32-bit-ish band keys
      over unique docs collide rarely, so candidates ~ o(n_docs), not
      the C(n,2) of an all-pairs design."""
    from demo_segmenter_spark.operators.layer_c import (
        _hashed_shingles,
        _minhash_band_table,
        _minhash_verified_pairs,
        _shingle_pairs,
    )

    t0 = time.time()
    filler = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"d{j}w"), F.col("id").cast("string"))
            for j in range(40)
        ],
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), filler.alias("text")
    )
    dup = " ".join(f"rare{j}" for j in range(40))
    planted = spark.createDataFrame(
        [(10_000_000, dup), (10_000_001, dup + " tail")],
        "doc_id long, text string",
    )
    docs = docs.unionAll(planted)
    hs = _hashed_shingles()
    sh = (
        docs.select("doc_id", hs.alias("hset"))
        .filter(F.size("hset") > 0)
        .repartition(64)
        .cache()
    )
    verified = _minhash_verified_pairs(sh, threshold=0.5).collect()
    dt = time.time() - t0
    assert len(verified) == 1, verified[:5]
    got = verified[0]
    assert (got.doc_a, got.doc_b) == (10_000_000, 10_000_001), got
    assert got.jaccard >= 0.97, got

    # candidate boundedness: same banding the verified path ran
    n_cand = _shingle_pairs(_minhash_band_table(sh)).count()
    assert n_cand < n_docs // 10, n_cand
    sh.unpersist()
    print(
        f"minhash banding: {n_docs} unique docs + 1 planted near-dup "
        f"(j=0.974) -> {n_cand} band candidates, 1 verified pair "
        f"(j={got.jaccard}) in {dt:.1f}s; all-pairs would be "
        f"{n_docs * (n_docs - 1) // 2:,} comparisons"
    )


def cc_stress(spark, n: int = 1_000_000, chain: int = 8) -> None:
    """Connected-components at synthetic scale with a KNOWN answer:
    n vertices in chains of length `chain`, vertex ids scrambled by a
    coprime multiplier so chain neighbors land in different partitions
    — worst case for the local union-find phase (almost nothing
    contracts), which forces the distributed fixpoint path over a
    contracted graph about the size of the input. Ground truth:
    exactly n/chain components covering all n vertices."""
    from demo_segmenter_spark.functions.graph import connected_components

    p = 999_983  # prime, coprime with n
    assert n % chain == 0
    base = spark.range(n)
    edges = base.filter((F.col("id") % chain) != chain - 1).select(
        ((F.col("id") * p) % n).alias("a"),
        (((F.col("id") + 1) * p) % n).alias("b"),
    )
    n_edges = n // chain * (chain - 1)
    # Two rows: the production hybrid (bounded-probe coalesce + driver
    # finish of the contracted graph — what a real job runs), and the
    # FORCED fully distributed fixpoint with full fragmentation (the
    # worst-case path that must stay correct when the contracted graph
    # exceeds one machine).
    variants = [
        ("production hybrid", {}),
        (
            "forced distributed fixpoint",
            dict(driver_finish_edges=0, small_graph_edges=0),
        ),
    ]
    for label, kwargs in variants:
        t0 = time.time()
        labels = connected_components(edges, **kwargs)
        agg = labels.agg(
            F.count("*").alias("n_v"), F.countDistinct("label").alias("n_comp")
        ).first()
        dt = time.time() - t0
        assert agg.n_v == n, (agg.n_v, n)
        assert agg.n_comp == n // chain, (agg.n_comp, n // chain)
        print(
            f"connected components ({label}): {n_edges} scrambled chain "
            f"edges -> {agg.n_comp} components in {dt:.1f}s "
            f"({n_edges / dt / 1e6:.2f}M edges/s)"
        )


def labelprop_stress(spark, n: int = 1_000_000, chain: int = 8) -> None:
    """Min-label propagation (the b_graph_components dataflow) at
    synthetic scale with a KNOWN answer: the same scrambled-chain graph
    as cc_stress, run for chain-1 rounds (enough to cover the diameter)
    with the identical self-loop + min-over-incoming shape the query
    unrolls. Ground truth: every chain converges to its minimum vertex
    id — exactly n/chain distinct labels over exactly n vertices, and
    (propagation-specific, stronger than cc_stress's invariant) every
    label must BE the min id of its own member set."""
    p = 999_983
    assert n % chain == 0
    base = spark.range(n)
    half = base.filter((F.col("id") % chain) != chain - 1).select(
        ((F.col("id") * p) % n).alias("src"),
        (((F.col("id") + 1) * p) % n).alias("dst"),
    )
    half = half.unionByName(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = half.select("src").distinct()
    edges = half.unionByName(
        nodes.select("src", F.col("src").alias("dst"))
    ).persist()
    n_edges = edges.count()
    t0 = time.time()
    lbl = nodes.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
    for _ in range(chain - 1):
        lbl = (
            edges.join(
                lbl.select(F.col("node").alias("src"), F.col("lbl").alias("src_lbl")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_lbl").alias("lbl"))
            .withColumnRenamed("dst", "node")
        ).persist()  # checkpoint each round: keeps the 7-round plan shallow
    agg = lbl.agg(
        F.count("*").alias("n_v"),
        F.countDistinct("lbl").alias("n_comp"),
        # propagation-specific invariant: a label equals the min member
        F.sum(F.when(F.col("lbl") > F.col("node"), 1).otherwise(0)).alias("bad"),
    ).first()
    per_label_min = (
        lbl.groupBy("lbl").agg(F.min("node").alias("mn"))
        .filter(F.col("lbl") != F.col("mn")).count()
    )
    dt = time.time() - t0
    assert agg.n_v == n, (agg.n_v, n)
    assert agg.n_comp == n // chain, (agg.n_comp, n // chain)
    assert agg.bad == 0 and per_label_min == 0, (agg.bad, per_label_min)
    print(
        f"label propagation: {n_edges} edges x {chain - 1} rounds -> "
        f"{agg.n_comp} converged labels in {dt:.1f}s "
        f"({n_edges * (chain - 1) / dt / 1e6:.2f}M edge-visits/s)"
    )
    spark.catalog.clearCache()


def skew_stress(spark, n_events: int = 40_000_000, n_users: int = 100_000) -> None:
    """Hot-key join stress at 40M rows with ONE key holding ~30% of
    the stream (round-12, verdict r11 ask #7 shape — sized so the hot
    partition's ~12M probe rows dominate the stage even on a warm JVM;
    at 10M the hot task ran ~2s warm and fixed salting overhead could
    flip the comparison), joined against a user dim too big to
    broadcast. Reports THREE wall-clocks on
    identical no-broadcast settings: (1) UNSALTED with AQE's skew
    split disabled — the naive plan, whose hot partition serializes
    ~3M probe rows in one task; (2) unsalted with AQE's runtime skew
    split (the built-in mitigation); (3) the explicit salted_join
    (functions/skew.py) with AQE's split disabled, isolating the
    salting win. Asserts identical output cardinality everywhere and
    that salting beats the naive plan outright. The point at 100 TB:
    AQE splits a hot LEFT partition fine; salting is the insurance
    for hot-on-both-sides and for stages AQE can't reach (streaming
    state, grouped aggregation)."""
    from demo_segmenter_spark.functions.skew import salted_join

    ev = (
        spark.range(n_events)
        .select(
            F.col("id").alias("event_id"),
            # ~30% of events on user 0, rest uniform over the key space
            F.when(F.col("id") % 10 < 3, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_users - 1)) + 1)
            .alias("user_id"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
    )
    dim = spark.range(n_users).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("seg_"), (F.col("id") % 7).cast("string")).alias("segment"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad1"),
        F.sha2((F.col("id") + 1).cast("string"), 256).alias("pad2"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t0 = time.time()
        n_plain = ev.join(dim, "user_id").groupBy("segment").count().count()
        dt_plain = time.time() - t0
        t0 = time.time()
        n_salt = (
            salted_join(ev, dim, "user_id").groupBy("segment").count().count()
        )
        dt_salt = time.time() - t0
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t0 = time.time()
        n_aqe = ev.join(dim, "user_id").groupBy("segment").count().count()
        dt_aqe = time.time() - t0
        assert n_plain == n_salt == n_aqe, (n_plain, n_salt, n_aqe)
        print(
            f"skew join ({n_events} events, ~30% on one key,"
            f" {n_users}-row dim, no broadcast): unsalted/no-AQE-split"
            f" {dt_plain:.1f}s, salted_join {dt_salt:.1f}s"
            f" ({dt_plain / dt_salt:.1f}x), AQE skew-split {dt_aqe:.1f}s,"
            f" outputs identical"
        )
        assert dt_salt < dt_plain, (dt_salt, dt_plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)


def ann_stress(spark, n: int = 200_000, n_q: int = 20, k: int = 10) -> None:
    """Similarity search at synthetic scale: n deterministic 64-dim
    vectors, n_q queries, exact brute-force top-k vs the IVF-style
    cluster-restricted search (c_sim_ivf's shape). Prints both wall
    times plus IVF recall@k against the exact answer — the measured
    version of the '100 TB scale path' claim in c_sim_ivf's docstring."""
    from pyspark.sql import Window

    from demo_segmenter_spark.functions.vectors import dot

    t0 = time.time()
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), d -> "
                "CAST((id * 2654435761 + d * 40503) % 1000 AS DOUBLE) / 500.0 - 1.0)"
            ).alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .persist()
    )
    base.count()
    qs = base.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    print(f"ann materialize {n} vectors: {time.time() - t0:.1f}s")

    t0 = time.time()
    exact = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
    )
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    t_exact = time.time() - t0

    t0 = time.time()
    cents = base.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cent_sim = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    assign_w = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("cent_id")
    )
    assigned = (
        base.join(F.broadcast(cents))
        .select("vec_id", "v", "nrm", "cent_id", cent_sim.alias("cs"))
        .withColumn("r", F.row_number().over(assign_w))
        .filter(F.col("r") == 1)
        .select("vec_id", "v", "nrm", F.col("cent_id").alias("cluster_id"))
        .persist()
    )
    assigned.count()
    qsc = assigned.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cluster_id").alias("q_cluster"),
    )
    ivf = (
        assigned.join(
            F.broadcast(qsc),
            (F.col("cluster_id") == F.col("q_cluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
    )
    ivf_set = {(r.query_id, r.vec_id) for r in ivf.collect()}
    t_ivf = time.time() - t0

    recall = len(ivf_set & exact_set) / len(exact_set)
    print(
        f"ann {n} vectors x {n_q} queries top-{k}: exact {t_exact:.1f}s, "
        f"ivf {t_ivf:.1f}s (incl. one-time assignment), recall@{k} "
        f"{recall:.2f} (16 fixed centroids; at real scale k-means "
        f"centroids + nprobe>1 recover the tail)"
    )

    # TRAINED-centroid IVF with nprobe=2 (round-6 ask #4): one Lloyd
    # update from the fixed seeds (the fixed-centroid assignment above
    # IS Lloyd round 1's assignment), then every query probes its 2
    # nearest LEARNED cells. This is c_sim_ivf_trained's shape at 200k
    # vectors; recall must hold at >= the fixed-centroid row.
    t0 = time.time()
    cents_t = (
        assigned.select("cluster_id", F.posexplode("v").alias("i", "x"))
        .groupBy("cluster_id", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )
        .select(F.col("cluster_id").alias("cent_id"), "cv")
        .withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    )
    cs2 = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    ranked2 = (
        base.join(F.broadcast(cents_t))
        .select("vec_id", "v", "nrm", "cent_id", cs2.alias("cs"))
        .withColumn("r", F.row_number().over(assign_w))
        .persist()
    )
    assigned2 = ranked2.filter(F.col("r") == 1).select(
        "vec_id", "v", "nrm", F.col("cent_id").alias("cluster_id")
    )
    probes2 = ranked2.filter(
        (F.col("vec_id") < n_q) & (F.col("r") <= 2)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cent_id").alias("probe_cluster"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    ivf2 = (
        assigned2.join(
            F.broadcast(probes2),
            (F.col("cluster_id") == F.col("probe_cluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
    )
    ivf2_set = {(r.query_id, r.vec_id) for r in ivf2.collect()}
    t_ivf2 = time.time() - t0
    recall2 = len(ivf2_set & exact_set) / len(exact_set)
    print(
        f"ann trained-ivf nprobe=2 {n} vectors x {n_q} queries top-{k}: "
        f"{t_ivf2:.1f}s (incl. Lloyd update + re-assignment), recall@{k} "
        f"{recall2:.2f} (learned centroids; cells actually track density)"
    )
    assert recall2 >= recall, (recall2, recall)
    ranked2.unpersist()
    base.unpersist()
    assigned.unpersist()




def fk_stress(
    spark,
    n_orders: int = 200_000,
    versions: int = 6,
    n_supp: int = 1000,
) -> None:
    """a_ktable_fk_join (KIP-213) at changelog scale with a hot FK
    (round-6 ask #5): 1.2M left changelog rows (200k orders × 6
    versions, the FK CHANGES across versions so compaction decides the
    join key), 3k right changelog rows (1k suppliers × 3 versions),
    and one supplier holding 10% of the compacted left side. Broadcast
    disabled so the FK hop is a real shuffle join under AQE skew
    handling. Exact invariants, not throughput guesses: every planted
    latest-version marker must surface — all left rows at version 6
    with the version-6 FK, all right names at _v3, the hot supplier at
    exactly n_orders/10 rows, and the order-total join complete."""
    t0 = time.time()
    # left changelog: fk varies by version; LATEST (ver==versions) fk is
    # supplier 7 for okey%10==0 (the hot key), else 8+(hash%992) — the
    # disjoint ranges make the hot count exact, and earlier versions'
    # fks differ so a compaction bug changes the join fan-out loudly.
    h = (F.col("okey") * 2654435761 + F.lit(40503)) % (n_supp - 8)
    latest_fk = F.when(F.col("okey") % 10 == 0, F.lit(7)).otherwise(8 + h)
    left = (
        spark.range(n_orders)
        .select(
            F.col("id").alias("okey"),
            F.explode(F.sequence(F.lit(1), F.lit(versions))).alias("ver"),
        )
        .select(
            "okey",
            "ver",
            F.when(F.col("ver") == versions, latest_fk)
            .otherwise((F.col("okey") + F.col("ver")) % n_supp)
            .alias("fk"),
            (F.col("okey") * 100 + F.col("ver")).alias("price"),
        )
    )
    right = (
        spark.range(n_supp)
        .select(
            F.col("id").alias("skey"),
            F.explode(F.sequence(F.lit(1), F.lit(3))).alias("sver"),
        )
        .select(
            "skey", "sver",
            F.concat(F.lit("s"), "skey", F.lit("_v"), "sver").alias("sname"),
        )
    )
    totals = spark.range(n_orders).select(
        F.col("id").alias("tkey"), (F.col("id") * 7).alias("total")
    )
    wl = Window.partitionBy("okey").orderBy(
        F.col("ver").desc(), F.col("fk").desc(), F.col("price").desc()
    )
    wr = Window.partitionBy("skey").orderBy(
        F.col("sver").desc(), F.col("sname").desc()
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ll = (
            left.withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") == 1)
            .select("okey", "ver", "fk", "price")
        )
        rr = (
            right.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("skey", "sver", "sname")
        )
        res = (
            ll.join(rr, ll.fk == rr.skey)
            .join(totals, F.col("okey") == F.col("tkey"))
            .select("okey", "ver", "fk", "sname", "sver", "price", "total")
        )
        agg = res.agg(
            F.count("*").alias("n"),
            F.min("ver").alias("min_ver"),
            F.sum(F.when(F.col("fk") == 7, 1).otherwise(0)).alias("hot"),
            F.sum(F.when(F.col("sver") == 3, 0).otherwise(1)).alias("stale"),
            F.sum("price").alias("sum_price"),
            F.sum("total").alias("sum_total"),
        ).first()
        dt = time.time() - t0
        n = n_orders
        assert agg.n == n, agg
        assert agg.min_ver == versions, agg  # every left row compacted to v6
        assert agg.hot == n // 10, agg  # hot FK exactly 10%
        assert agg.stale == 0, agg  # every right row compacted to _v3
        assert agg.sum_price == sum(range(n)) * 100 + n * versions, agg
        assert agg.sum_total == sum(range(n)) * 7, agg
        print(
            f"ktable_fk_join {n_orders * versions} changelog rows "
            f"({n_orders} keys x {versions} versions, fk changes per "
            f"version) vs {n_supp}x3 right changelog, hot fk 10%, "
            f"broadcast off: all latest-version markers surfaced in "
            f"{dt:.1f}s ({n_orders * versions / dt / 1e6:.2f}M rows/s)"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _mmr_multi_run(spark, base, n_q: int, k: int = 5, pool_k: int = 20):
    """c_rag_mmr_multi's machinery on a synthetic corpus, instrumented
    in two phases: (P) pool + pairwise-sim build — the corpus×queries
    relevance scan — and (R) the K greedy rounds. Returns
    (t_pool, t_rounds, result_rows)."""
    from demo_segmenter_spark.functions.cache import (
        local_checkpoint,
        release_persisted,
    )
    from demo_segmenter_spark.functions.vectors import dot

    t0 = time.time()
    qs = base.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    rel_u = dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    w_pool = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "vec_id")
    # (qid, vec_id, rel) only through the top-k window — carrying the
    # 64-dim vectors through a corpus×queries shuffle would be the
    # scale bug; pool members re-fetch their vectors by joining base
    pool_ids = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(rel_u, 4).alias("rel"))
        .withColumn("rn", F.row_number().over(w_pool))
        .filter(F.col("rn") <= pool_k)
        .drop("rn")
    )
    pool = pool_ids.join(base, "vec_id").persist()
    pa = pool.select(
        "qid", F.col("vec_id").alias("va"), F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    pb = pool.select(
        "qid", F.col("vec_id").alias("vb"), F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    sim_u = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    psims = (
        pa.join(pb, "qid")
        .filter(F.col("va") != F.col("vb"))
        .select("qid", "va", "vb", F.round(sim_u, 4).alias("sim"))
        .persist()
    )
    cand = pool.select("qid", "vec_id", "rel").persist()
    psims.count(), cand.count()
    t_pool = time.time() - t0

    t0 = time.time()
    w_pick = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    sel = local_checkpoint(
        cand.select(
            "qid", "vec_id", "rel",
            (F.lit(0.7) * F.col("rel")).alias("score"),
            F.lit(1).alias("rank"),
        )
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    for r in range(2, k + 1):
        remaining = cand.join(
            sel.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti"
        )
        ms = (
            psims.join(
                sel.select("qid", F.col("vec_id").alias("vb")), ["qid", "vb"]
            )
            .groupBy("qid", F.col("va").alias("vec_id"))
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            remaining.join(ms, ["qid", "vec_id"])
            .select(
                "qid", "vec_id", "rel",
                (F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("ms")).alias(
                    "score"
                ),
                F.lit(r).alias("rank"),
            )
            .withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        sel = local_checkpoint(sel.unionByName(pick))
    rows = sel.groupBy("qid").agg(
        F.count("*").alias("n"), F.countDistinct("vec_id").alias("nd")
    ).collect()
    t_rounds = time.time() - t0
    assert len(rows) == n_q and all(
        r["n"] == k and r["nd"] == k for r in rows
    ), "per-query selection broken"
    pool.unpersist(); psims.unpersist(); cand.unpersist()
    release_persisted(spark, owner=True)
    return t_pool, t_rounds, len(rows) * k


def mmr_stress(spark) -> None:
    """c_rag_mmr_multi at retrieval-batch scale (round-6 ask #6): the
    docstring claims the K greedy rounds cost K qid-partitioned
    shuffles TOTAL — independent of query count — and the corpus is
    touched once. Measured, not asserted from the plan: the rounds
    phase at 10× the queries must stay ~flat (same job/shuffle count,
    slightly more rows per shuffle), while the pool phase grows with
    corpus × queries as it must (it IS the relevance scan)."""

    def mk_base(n):
        from demo_segmenter_spark.functions.vectors import dot as _dot

        b = (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    "transform(sequence(1, 64), d -> "
                    "CAST((id * 2654435761 + d * 40503) % 1000 AS DOUBLE)"
                    " / 500.0 - 1.0)"
                ).alias("v"),
            )
            .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
            .persist()
        )
        b.count()
        return b

    base = mk_base(200_000)
    tp_a, tr_a, n_a = _mmr_multi_run(spark, base, n_q=100)
    tp_b, tr_b, n_b = _mmr_multi_run(spark, base, n_q=1000)
    base.unpersist()
    small = mk_base(50_000)
    tp_c, tr_c, _ = _mmr_multi_run(spark, small, n_q=1000)
    small.unpersist()
    flat_q = tr_b / tr_a  # 10x queries -> rounds ~flat
    lin_c = tp_b / tp_c   # 4x corpus -> pool phase ~linear
    print(
        f"mmr_multi 200k vectors: rounds phase {tr_a:.1f}s @100q vs "
        f"{tr_b:.1f}s @1000q (10x queries -> {flat_q:.2f}x, flat-in-"
        f"queries claim); pool phase {tp_c:.1f}s @50k corpus vs "
        f"{tp_b:.1f}s @200k corpus at 1000q (4x corpus -> {lin_c:.2f}x "
        f"— the corpus-proportional relevance scan; 4.47x measured "
        f"idle, ratio is memory-pressure-sensitive mid-suite); "
        f"{n_b} selections, all K-complete"
    )
    assert flat_q < 3.0, flat_q  # 10x queries must NOT cost 10x rounds
    assert n_a == 100 * 5 and n_b == 1000 * 5


def _chain_edges(spark, n: int, chain: int, p: int = 999_983):
    """Scrambled disjoint chains: n vertices in chains of length
    `chain`, ids multiplied by a coprime prime so chain neighbors land
    in different partitions (no accidental locality). Returns the
    undirected pair list (u, v) — n/chain * (chain-1) edges,
    triangle-free by construction (a disjoint union of paths)."""
    assert n % chain == 0
    base = spark.range(n)
    return base.filter((F.col("id") % chain) != chain - 1).select(
        ((F.col("id") * p) % n).alias("u"),
        (((F.col("id") + 1) * p) % n).alias("v"),
    )


def _planted_triangles(spark, t: int, offset: int):
    """t vertex-disjoint triangles on ids [offset, offset+3t): exactly
    3t edges, exactly t triangles, every vertex degree exactly 2."""
    tri = spark.range(t).select((F.col("id") * 3 + offset).alias("a"))
    e = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), (F.col("a") + 1).alias("v")),
                F.struct(F.col("a").alias("u"), (F.col("a") + 2).alias("v")),
                F.struct((F.col("a") + 1).alias("u"), (F.col("a") + 2).alias("v")),
            )
        ).alias("e")
    )
    return e.select("e.u", "e.v")


def kcore_stress(spark, n: int = 1_000_000, chain: int = 8, t: int = 100_000) -> None:
    """k-core peeling (the b_graph_kcore dataflow) at >=1M edges with a
    KNOWN answer: scrambled chains (875k edges — every vertex degree
    <=2, so under K=2 the chains peel from both ends, one layer per
    round, gone after chain/2 rounds) plus t vertex-disjoint planted
    triangles (300k edges — degree exactly 2 everywhere, the 2-core
    fixpoint). Ground truth after chain/2 rounds: survivors are
    EXACTLY the 3t triangle vertices, each with degree exactly 2, and
    exactly 3t edges remain. Per-round invariant: chains shrink by
    exactly 2 endpoints per chain per round."""
    K = 2
    edges = _chain_edges(spark, n, chain).unionByName(
        _planted_triangles(spark, t, offset=n)
    ).persist()
    n_edges0 = edges.count()
    rounds = chain // 2
    t0 = time.time()
    e = edges
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        surv = deg.filter(F.col("d") >= K).select("node").persist()
        e = (
            e.join(surv.withColumnRenamed("node", "u"), "u", "leftsemi")
            .join(surv.withColumnRenamed("node", "v"), "v", "leftsemi")
            .select("u", "v")
            .persist()
        )
        n_e = e.count()
        # each of the n/chain chains loses its 2 current endpoints per
        # round -> exactly 2 chain-edges per chain vanish every round
        left = chain - 1 - 2 * r
        expect = (n // chain) * left + 3 * t if left > 0 else 3 * t
        assert n_e == expect, (r, n_e, expect)
    degf = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    agg = degf.agg(
        F.count("*").alias("n_surv"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.min("node").alias("first_node"),
    ).first()
    dt = time.time() - t0
    assert agg.n_surv == 3 * t, (agg.n_surv, 3 * t)
    assert agg.dmin == 2 and agg.dmax == 2, (agg.dmin, agg.dmax)
    assert agg.first_node == n  # every survivor is a planted-triangle id
    print(
        f"k-core peeling: {n_edges0} edges x {rounds} rounds -> "
        f"{agg.n_surv} core vertices (deg=={K} exact) in {dt:.1f}s "
        f"({n_edges0 * rounds / dt / 1e6:.2f}M edge-visits/s)"
    )
    spark.catalog.clearCache()


def bfs_stress(spark, n: int = 1_000_000, chain: int = 8, p: int = 999_983) -> None:
    """Min-plus BFS (the b_graph_bfs dataflow: self-loops carry w=0,
    one min over incoming per round) at >=1M directed edge rows with an
    ANALYTIC answer: on scrambled chains with the chain HEADS as the
    source set, the distance of the vertex at chain position j is
    exactly j, so the distance histogram is exactly n/chain nodes at
    each distance 0..chain-1. Heads are recovered under the scramble via
    the modular inverse of the scrambling prime — pure codegen, no
    driver-side source list."""
    pinv = pow(p, -1, n)
    half = _chain_edges(spark, n, chain)
    both = half.select("u", "v").unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = spark.range(n).select(F.col("id").alias("u"))
    edges = both.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1).alias("w")
    ).unionByName(
        nodes.select(
            F.col("u").alias("src"), F.col("u").alias("dst"), F.lit(0).alias("w")
        )
    ).persist()
    n_edge_rows = edges.count()
    t0 = time.time()
    is_head = ((F.col("node") * pinv) % n) % chain == 0
    dist = spark.range(n).select(
        F.col("id").alias("node"), F.when(is_head, F.lit(0)).alias("dist")
    )
    for _ in range(chain - 1):
        dist = (
            edges.join(
                dist.select(
                    F.col("node").alias("src"), F.col("dist").alias("src_dist")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min(F.col("src_dist") + F.col("w")).alias("dist"))
            .withColumnRenamed("dst", "node")
            .persist()
        )
    hist = {
        r.dist: r.n
        for r in dist.filter(F.col("dist").isNotNull())
        .groupBy("dist")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    dt = time.time() - t0
    assert hist == {j: n // chain for j in range(chain)}, hist
    print(
        f"min-plus BFS: {n_edge_rows} edge rows x {chain - 1} rounds -> "
        f"exact distance histogram ({chain} levels x {n // chain}) in "
        f"{dt:.1f}s ({n_edge_rows * (chain - 1) / dt / 1e6:.2f}M edge-visits/s)"
    )
    spark.catalog.clearCache()


def triangles_stress(spark, n: int = 1_000_000, chain: int = 8, t: int = 100_000) -> None:
    """Degree-oriented triangle counting (the b_graph_triangles
    dataflow: orient by (degree, id), wedge at the smallest endpoint,
    close with one oriented edge) at >=1M edges with a PLANTED answer:
    scrambled chains are triangle-free (disjoint paths), the t planted
    vertex-disjoint triangles are the complete truth — exactly t
    triangles, every triangle vertex in exactly one."""
    edges = _chain_edges(spark, n, chain).unionByName(
        _planted_triangles(spark, t, offset=n)
    )
    e = edges.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct().persist()
    n_edges = e.count()
    t0 = time.time()
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
        .persist()
    )
    x = oe.select("src", F.col("dst").alias("b_node"), F.col("ddeg").alias("bdeg"))
    y = oe.select("src", F.col("dst").alias("c_node"), F.col("ddeg").alias("cdeg"))
    wedges = x.join(y, "src").filter(
        F.struct("bdeg", "b_node") < F.struct("cdeg", "c_node")
    )
    z = oe.select(F.col("src").alias("b_node"), F.col("dst").alias("c_node"))
    tri = wedges.join(z, ["b_node", "c_node"])
    agg = tri.agg(F.count("*").alias("n_tri")).first()
    n_nodes = (
        tri.select(
            F.explode(F.array("src", "b_node", "c_node")).alias("node")
        ).distinct().count()
    )
    dt = time.time() - t0
    assert agg.n_tri == t, (agg.n_tri, t)
    assert n_nodes == 3 * t, (n_nodes, 3 * t)
    print(
        f"oriented triangles: {n_edges} edges -> exactly {agg.n_tri} "
        f"planted triangles over {n_nodes} vertices in {dt:.1f}s "
        f"({n_edges / dt / 1e6:.2f}M edges/s)"
    )
    spark.catalog.clearCache()

def bpe_encode_stress(spark, replicas: int = 20) -> None:
    """Corpus tokenization (c_token_bpe_encode's shape) at 100k docs /
    ~5.4M words: replicate the sf0.1 documents with disjoint doc_id
    spaces (same texts, so every adjacent-pair count scales uniformly
    by the replica factor and training picks the SAME merges — making
    the ground truth exact) and run train + both encode passes + the
    per-doc counts. Invariants: total post-merge token count exactly
    replicas × the single-copy total, and doc count exact."""
    from demo_segmenter_spark.functions.cache import release_persisted
    from demo_segmenter_spark.operators.layer_c import (
        BPE_ROUNDS,
        _bpe_apply,
        _bpe_argmax,
        _bpe_aug,
        _bpe_tokenize0,
    )
    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    ref = (
        REGISTRY["c_token_bpe_encode"].fn(spark, sf)
        .groupBy("doc_id").agg(F.max("n_tokens").alias("nt"))
        .agg(F.sum("nt").alias("total"), F.count("*").alias("docs"))
        .first()
    )
    release_persisted(spark, owner=True)
    docs = load_table(spark, sf, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    big = (
        docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("doc_id") + F.col("rep") * max_id).alias("doc_id"), "text"
        )
        .repartition(64)
        .persist()
    )
    n_docs = big.count()
    n_words = big.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    t0 = time.time()
    toks = _bpe_tokenize0(big)
    for _ in range(BPE_ROUNDS):
        aug = _bpe_aug(toks)
        best = _bpe_argmax(aug)
        _, toks = _bpe_apply(aug, best)
    got = (
        toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
        .agg(F.sum("nt").alias("total"), F.count("*").alias("docs"))
        .first()
    )
    dt = time.time() - t0
    assert got.docs == n_docs == replicas * ref.docs, (got, n_docs, ref)
    assert got.total == replicas * ref.total, (got.total, replicas, ref.total)
    print(
        f"bpe_encode {n_docs} docs / {n_words} words (x{replicas} sf0.1, "
        f"uniform pair scaling -> identical merges): train+encode "
        f"{dt:.1f}s ({n_words / dt / 1e6:.2f}M words/s), total tokens "
        f"exactly {replicas}x the single-copy encoding"
    )
    big.unpersist()
    release_persisted(spark, owner=True)


def dau_stress(spark, replicas: int = 10) -> None:
    """a_window_dau_stream's distinct-user state at 10x the key scale:
    replicate the sf0.1 events with disjoint USER spaces (same
    timestamps), run the streaming dedup→union→agg topology over the
    ~600k-event log (≈4.2M expanded window rows, ≈10x the (user,
    window) dedup-state rows), and check EXACT linearity: per window,
    active_users and n_events are precisely replicas × the base
    table's — any dedup-state loss or cross-replica bleed breaks
    equality on some window."""
    import shutil
    import uuid

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base = {
        r["window_start_us"]: (r["active_users"], r["n_events"])
        for r in REGISTRY["a_window_dau"].fn(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    mu = ev.agg(F.max("user_id")).first()[0] + 1
    d = f"/tmp/dss_scale/dau_{uuid.uuid4().hex[:8]}"
    (
        ev.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("user_id") + F.col("rep") * mu).alias("user_id"), "ts"
        )
        .repartition(32)
        .write.parquet(d)
    )
    n_rows = spark.read.parquet(d).count()
    t0 = time.time()
    ex = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(d)
        .select(
            "user_id", "ts",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        )
        .select(
            "user_id",
            F.timestamp_add(
                "DAY", -F.col("k"), F.date_trunc("DAY", F.col("ts"))
            ).alias("w_start"),
        )
    )
    raw = ex.select(
        "w_start", "user_id",
        F.lit(1).alias("is_event"), F.lit(0).alias("is_user"),
    )
    ded = ex.dropDuplicates(["w_start", "user_id"]).select(
        "w_start", "user_id",
        F.lit(0).alias("is_event"), F.lit(1).alias("is_user"),
    )
    agg = (
        raw.unionByName(ded)
        .groupBy("w_start")
        .agg(
            F.sum("is_event").alias("n_events"),
            F.sum("is_user").alias("active_users"),
        )
        .select(
            F.unix_micros("w_start").alias("w"), "active_users", "n_events"
        )
    )
    name = f"daustress_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["w"]: (r["active_users"], r["n_events"])
        for r in spark.table(name).collect()
    }
    dt = time.time() - t0
    assert set(got) == set(base), (len(got), len(base))
    for w, (au, n) in base.items():
        assert got[w] == (replicas * au, replicas * n), (w, got[w], au, n)
    shutil.rmtree(d, ignore_errors=True)
    print(
        f"dau_stream {n_rows} events x7 windows ({replicas}x sf0.1 user "
        f"space, ~{replicas}x dedup-state rows): per-window active_users "
        f"and n_events EXACTLY {replicas}x base on all {len(base)} "
        f"windows in {dt:.1f}s ({n_rows / dt / 1e6:.2f}M events/s "
        f"through streaming distinct state)"
    )


def ewma_stress(spark, replicas: int = 100) -> None:
    """Segmented-scan recurrence (a_ewma's mapInPandas form) at 10M
    rows / ~100k users: one user_id repartition + in-partition sort,
    then the per-partition Python pass with the per-user carry dict.
    Ground truth: exact row count, plus three users spot-checked
    value-for-value against pandas ewm(alpha=.5, adjust=False) with
    the same rounding — the recurrence depends on each user's ENTIRE
    prefix, so a single wrong carry anywhere in the 10M-row scan
    surfaces in the tail values."""
    import pandas as pd

    from pyspark.sql import functions as F

    from demo_segmenter_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    maxes = ev.agg(
        F.max("user_id").alias("mu"), F.max("event_id").alias("me")
    ).first()
    big = (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            (F.col("event_id") + F.col("rep") * (maxes.me + 1)).alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            (F.col("user_id") + F.col("rep") * (maxes.mu + 1)).alias("user_id"),
            "value",
        )
        .repartition(64)
        .persist()
    )
    n_rows = big.count()
    from demo_segmenter_spark.operators.layer_a import _ewma_rows

    def smooth(batches):
        carry = {}
        for pdf in batches:
            out = []
            for uid, v in zip(
                pdf["user_id"].astype("int64").tolist(), pdf["value"].tolist()
            ):
                y, n = carry.get(uid, (None, 0))
                o, y, n = _ewma_rows((v,), y, n)
                carry[uid] = (y, n)
                out.append(o[0])
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"].astype("int64").values,
                    "event_id": pdf["event_id"].astype("int64").values,
                    "ewma": out,
                }
            )

    t0 = time.time()
    smoothed = (
        big.repartition("user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(smooth, "user_id long, event_id long, ewma double")
        .persist()
    )
    n_out = smoothed.count()
    dt = time.time() - t0
    assert n_out == n_rows, (n_out, n_rows)
    probe_users = [maxes.mu + 1, 42, replicas // 2 * (maxes.mu + 1) + 7]
    got = {
        u: [
            (r.event_id, r.ewma)
            for r in sorted(
                smoothed.filter(F.col("user_id") == u).collect(),
                key=lambda r: r.event_id,
            )
        ]
        for u in probe_users
    }
    for u in probe_users:
        rows = sorted(
            big.filter(F.col("user_id") == u).collect(),
            key=lambda r: (r.ts_us, r.event_id),
        )
        if not rows:
            continue
        sm = (
            pd.Series([r.value for r in rows])
            .ewm(alpha=0.5, adjust=False)
            .mean()
        )
        want = sorted(
            (r.event_id, round(y + 1e-08, 4) + 0.0) for r, y in zip(rows, sm)
        )
        assert sorted(got[u]) == want, (u, got[u][:3], want[:3])
    print(
        f"ewma segmented scan: {n_rows} rows / ~{replicas * (maxes.mu + 1) // 1000}k users "
        f"-> exact recurrence in {dt:.1f}s ({n_rows / dt / 1e6:.2f}M rows/s); "
        f"3 users replayed value-for-value against pandas ewm"
    )
    spark.catalog.clearCache()


def incremental_dedup_stress(spark, n: int = 300_000) -> None:
    """Bipartite incremental dedup at 300k docs: ids ≡2 mod 3 are the
    incoming batch; the first 10k incoming ids are EXACT copies of
    their id-2 corpus neighbor, the next 10k are near copies (one
    token appended -> Jaccard ≈ 0.92), the rest is deterministic
    40-token soup over a 200-word vocab (expected cross-doc Jaccard
    ~0, shingle df ~Poisson(1.4) so the df cap never bites). Exact
    invariant: verdict counts are EXACTLY (10000, 10000, rest)."""
    import time

    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_c import (
        SHINGLE_DF_CAP,
        _hashed_shingles,
        _shingle_doc_table,
    )
    from demo_segmenter_spark.registry import REGISTRY

    t0 = time.time()
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(40)),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(200)),
                ),
            ),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("srcX").alias("source"),
    )
    inc_low = (F.col("doc_id") % 3 == 2) & (F.col("doc_id") < 30_000)
    inc_mid = (
        (F.col("doc_id") % 3 == 2)
        & (F.col("doc_id") >= 30_000)
        & (F.col("doc_id") < 60_000)
    )
    nbr = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64((F.col("doc_id") - 2) * 1000 + i), F.lit(200)),
            ),
        ),
    )
    docs = base.withColumn(
        "text",
        F.when(inc_low, nbr)
        .when(inc_mid, F.concat(nbr, F.lit(" extratoken")))
        .otherwise(F.col("text")),
    ).withColumn("n_chars", F.length("text"))
    out = f"/tmp/dss_scale/incdedup_{n}"
    # the registered query loads only the documents table, so the
    # crafted dir needs nothing else
    docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    t1 = time.time()
    res = (
        REGISTRY["c_dedup_incremental"].fn(spark, out)
        .groupBy("verdict")
        .count()
        .collect()
    )
    dt = time.time() - t1
    got = {r["verdict"]: r["count"] for r in res}
    n_inc = sum(got.values())
    assert got.get("exact_dup") == 10_000, got
    assert got.get("near_dup") == 10_000, got
    assert n_inc == len([i for i in range(n) if i % 3 == 2]), got
    print(
        f"incremental dedup: {n} docs ({n_inc} incoming) bipartite vs corpus -> "
        f"verdicts exact_dup=10000 near_dup=10000 kept={got['kept']} EXACT "
        f"in {dt:.1f}s ({n / dt / 1e6:.2f}M docs/s; materialize {t1 - t0:.1f}s)"
    )
    spark.catalog.clearCache()


def range_binned_stress(spark, replicas: int = 100) -> None:
    """Keyless binned range join at 100x density-preserving scale:
    each replica shifts event time by rep*40 days (the fixture spans
    ~30), so per-bin density is UNCHANGED while total volume is 100x —
    the result must be EXACTLY 100x the base row count with identical
    per-replica Δt structure (nearest-click choice is time-shift
    invariant). Linearity is the scale claim: pair space per bin is
    bounded by density, never by corpus size."""
    import time

    from pyspark.sql import functions as F

    from demo_segmenter_spark.registry import REGISTRY, load_all_operators
    from demo_segmenter_spark.sources import load_table

    load_all_operators()
    sfd = "/root/testdata/sf0.1"
    base_rows = REGISTRY["b_join_range_binned"].fn(spark, sfd).count()
    ev = load_table(spark, sfd, "events")
    maxes = ev.agg(
        F.max("event_id").alias("me")
    ).first()
    stride = maxes.me + 1
    out = f"/tmp/dss_scale/rbj_x{replicas}"
    t0 = time.time()
    (
        ev.select("event_id", "ts", "event_type")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            (F.col("event_id") + F.col("rep") * stride).alias("event_id"),
            (F.col("ts") + F.make_dt_interval(F.col("rep") * 40)).alias("ts"),
            "event_type",
        )
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )
    t1 = time.time()
    n = REGISTRY["b_join_range_binned"].fn(spark, out).count()
    dt = time.time() - t1
    assert n == base_rows * replicas, (n, base_rows, replicas)
    print(
        f"range_binned {replicas}x time-shifted events "
        f"({replicas * 100_000} rows): {n} nearest-click rows == exactly "
        f"{replicas}x base in {dt:.1f}s (materialize {t1 - t0:.1f}s)"
    )
    spark.catalog.clearCache()


def cep_stress(spark, replicas: int = 100) -> None:
    """a_cep_pattern at 10M events / ~100k users: the one-exchange
    RANGE-window plan over the 100x-replicated log (disjoint user AND
    event key spaces, identical per-user time structure). Ground
    truth is EXACT linearity: match count, total latency mass and
    matched-user count are each precisely replicas x the sf0.1 base —
    any cross-replica state bleed or window-frame drift breaks one of
    the equalities."""
    import shutil
    import uuid

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base = (
        REGISTRY["a_cep_pattern"]
        .fn(spark, sf)
        .agg(
            F.count("*").alias("n"),
            F.sum("latency_us").alias("lat"),
            F.countDistinct("user_id").alias("u"),
        )
        .first()
    )
    ev = load_table(sf_dir=sf, name="events", spark=spark)
    mx = ev.agg(
        F.max("user_id").alias("mu"), F.max("event_id").alias("me")
    ).first()
    mu, me = mx.mu + 1, mx.me + 1
    d = f"/tmp/dss_scale/cep_{uuid.uuid4().hex[:8]}"
    (
        ev.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("event_id") + F.col("rep") * me).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * mu).alias("user_id"),
            "event_type",
        )
        .repartition(64)
        .write.parquet(f"{d}/events.parquet")
    )
    n_rows = spark.read.parquet(f"{d}/events.parquet").count()
    t0 = time.time()
    got = (
        REGISTRY["a_cep_pattern"]
        .fn(spark, d)
        .agg(
            F.count("*").alias("n"),
            F.sum("latency_us").alias("lat"),
            F.countDistinct("user_id").alias("u"),
        )
        .first()
    )
    dt = time.time() - t0
    assert got.n == replicas * base.n, (got.n, base.n)
    assert got.lat == replicas * base.lat, (got.lat, base.lat)
    assert got.u == replicas * base.u, (got.u, base.u)
    shutil.rmtree(d, ignore_errors=True)
    print(
        f"cep_pattern {n_rows} events ({replicas}x sf0.1 key space): "
        f"{got.n} matches, count/latency-mass/users all EXACTLY "
        f"{replicas}x base in {dt:.1f}s ({n_rows / dt / 1e6:.2f}M rows/s "
        f"through the one-exchange RANGE-window plan)"
    )


def para_stress(spark, n_docs: int = 1_000_000) -> None:
    """c_dedup_paragraph's rewrite at 1M docs with heavy planted
    boilerplate: every doc = [shared boilerplate block] + [unique
    block] (the worst realistic shape — one block duplicated n_docs
    times). Ground truth is exact: doc 0 keeps both blocks, every
    other doc keeps exactly its unique block, so n_kept sums to
    n_docs + 1 and kept_words to 16*(n_docs+1); the hot block's
    keep-window sees all 1M copies in ONE partition's sort — the
    skew case the (doc_id, blk) total order must survive."""
    import shutil
    import uuid

    from demo_segmenter_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    d = f"/tmp/dss_scale/para_{uuid.uuid4().hex[:8]}"
    boiler = " ".join(f"bp{i}" for i in range(16))
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(boiler + " "),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"u{j}x"), F.col("id").cast("string"))
                        for j in range(16)
                    ],
                ),
            ).alias("text"),
        )
        .repartition(64)
        .write.parquet(f"{d}/documents.parquet")
    )
    t0 = time.time()
    agg = (
        REGISTRY["c_dedup_paragraph"]
        .fn(spark, d)
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_blocks").alias("blocks"),
            F.sum("n_kept").alias("kept"),
            F.sum("kept_words").alias("kept_words"),
        )
        .first()
    )
    dt = time.time() - t0
    assert agg.docs == n_docs, agg
    assert agg.blocks == 2 * n_docs, agg
    assert agg.kept == n_docs + 1, agg
    assert agg.kept_words == 16 * (n_docs + 1), agg
    shutil.rmtree(d, ignore_errors=True)
    print(
        f"paragraph_dedup {n_docs} docs / {2 * n_docs} blocks, one block "
        f"duplicated {n_docs}x: rewrite exact (kept = n_docs+1, word mass "
        f"exact) in {dt:.1f}s ({2 * n_docs / dt / 1e6:.2f}M blocks/s)"
    )


def pretrain_stress(spark, n_docs: int = 1_000_000) -> None:
    """c_pipeline_pretrain (gate->scrub->pack) at 1M docs with every
    stage's failure mode planted: docs with id%10==9 are too short
    (gate: length), id%10==8 repeat one word 32x (gate: distinct
    ratio), every survivor shares one boilerplate block (scrub: only
    doc 0 keeps it) plus a unique block. Ground truth is closed-form:
    800k survivors, kept mass 16*survivors + 16, and per-lang bin
    counts ceil(mass/512) — exact or the fused pipeline broke a
    stage boundary."""
    import shutil
    import uuid

    from demo_segmenter_spark.operators.layer_c import PACK_CAPACITY
    from demo_segmenter_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    d = f"/tmp/dss_scale/pretrain_{uuid.uuid4().hex[:8]}"
    boiler = " ".join(f"bp{i}" for i in range(16))
    pad = F.lpad(F.col("id").cast("string"), 7, "0")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"u{j}x"), pad) for j in range(16)]
    )
    text = (
        F.when(F.col("id") % 10 == 9, F.lit("tiny doc"))
        .when(
            F.col("id") % 10 == 8,
            F.concat_ws(" ", *([F.lit("rep")] * 31), F.col("id").cast("string")),
        )
        .otherwise(F.concat(F.lit(boiler + " "), uniq))
    )
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.concat(F.lit("l"), (F.col("id") % 5).cast("string")).alias("lang"),
            F.lit("src").alias("source"),
            F.length(text).cast("long").alias("n_chars"),
        )
        .repartition(64)
        .write.parquet(f"{d}/documents.parquet")
    )
    # closed-form ground truth
    surv = {f"l{k}": n_docs // 5 for k in range(5)}
    surv["l3"] -= n_docs // 10  # id%10==8 all have id%5==3
    surv["l4"] -= n_docs // 10  # id%10==9 all have id%5==4
    mass = {k: 16 * v for k, v in surv.items()}
    mass["l0"] += 16  # doc 0 keeps the boilerplate block too
    want_docs = sum(surv.values())
    want_tokens = sum(mass.values())
    want_groups = sum(-(-m // PACK_CAPACITY) for m in mass.values())
    t0 = time.time()
    agg = (
        REGISTRY["c_pipeline_pretrain"]
        .fn(spark, d)
        .agg(
            F.count("*").alias("groups"),
            F.sum("n_docs").alias("docs"),
            F.sum("sum_tokens").alias("tokens"),
        )
        .first()
    )
    dt = time.time() - t0
    assert agg.docs == want_docs, (agg.docs, want_docs)
    assert agg.tokens == want_tokens, (agg.tokens, want_tokens)
    assert agg.groups == want_groups, (agg.groups, want_groups)
    shutil.rmtree(d, ignore_errors=True)
    print(
        f"pretrain_pipeline {n_docs} docs (20% gate-rejected, one block "
        f"duplicated {want_docs}x): {agg.docs} survivors / {agg.tokens} "
        f"kept tokens / {agg.groups} pack bins, all closed-form EXACT in "
        f"{dt:.1f}s ({n_docs / dt / 1e6:.2f}M docs/s through the fused "
        f"gate->scrub->pack plan)"
    )


def bitmap_stress(spark, replicas: int = 100) -> None:
    """b_agg_bitmap_distinct at 10M events / ~150k users: replicate
    sf0.1 events with DISJOINT user key spaces, so the exact distinct
    per event_type is precisely replicas x the base — the linearity
    any bitmap bit-placement bug (word/bit aliasing across replicas)
    would break. The in-schema countDistinct twin must also equal the
    bitmap count on every row at this scale."""
    import shutil

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base = {
        r.event_type: r.n_users_bitmap
        for r in REGISTRY["b_agg_bitmap_distinct"].fn(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    stride = ev.agg(F.max("user_id")).first()[0] + 1
    out = "/tmp/dss_scale/bitmap"
    shutil.rmtree(out, ignore_errors=True)
    (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            "event_id",
            "ts",
            (F.col("user_id") + F.col("rep") * stride).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )
    n_rows = spark.read.parquet(f"{out}/events.parquet").count()
    t0 = time.time()
    rows = REGISTRY["b_agg_bitmap_distinct"].fn(spark, out).collect()
    dt = time.time() - t0
    for r in rows:
        assert r.n_users_bitmap == r.n_users_exact, r
        assert r.n_users_bitmap == replicas * base[r.event_type], (r, base)
    print(
        f"bitmap_distinct {n_rows} events ({replicas}x disjoint user space): "
        f"per-type bitmap popcounts == countDistinct == exactly {replicas}x "
        f"base on all {len(rows)} types in {dt:.1f}s "
        f"({n_rows / dt / 1e6:.2f}M rows/s; word table is the mergeable "
        f"artifact)"
    )
    shutil.rmtree(out, ignore_errors=True)
    spark.catalog.clearCache()


def pii_batch_stress(spark, n_docs: int = 1_000_000) -> None:
    """c_pii_scrub + c_batch_by_length at 1M synthesized docs with
    CLOSED-FORM ground truth. PII: ids 0..n-1 plant exactly one email
    per id%3==0, one phone per id%4==0, one IPv4 per id%5==0 — the
    per-type totals are exact ceilings. Batching: token count
    40 + id%7 (all docs in one 16-wide bucket), shard id%4; since
    (id%7, id%4) is determined by id%28, the per-shard sorted length
    multiset is closed-form, and a 28-residue python fold reproduces
    the exact total padding waste the length-grouped batcher must
    report."""
    import shutil

    from demo_segmenter_spark.registry import REGISTRY

    d = "/tmp/dss_scale/piibatch"
    shutil.rmtree(d, ignore_errors=True)
    n_tok = 40 + F.col("id") % 7
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda i: F.concat(F.lit("w"), ((F.col("id") * 31 + i) % 97).cast("string")),
        ),
    )
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.lit("src").alias("source"),
            F.length(text).cast("long").alias("n_chars"),
        )
        .repartition(64)
        .write.parquet(f"{d}/documents.parquet")
    )
    # --- PII closed form ---
    t0 = time.time()
    agg = (
        REGISTRY["c_pii_scrub"]
        .fn(spark, d)
        .agg(
            F.sum("n_email").alias("e"),
            F.sum("n_phone").alias("p"),
            F.sum("n_ip").alias("i"),
            F.max("n_email").alias("me"),
            F.max("n_phone").alias("mp"),
            F.max("n_ip").alias("mi"),
        )
        .first()
    )
    dt = time.time() - t0
    want = ((n_docs + 2) // 3, (n_docs + 3) // 4, (n_docs + 4) // 5)
    assert (agg.e, agg.p, agg.i) == want, (agg, want)
    assert (agg.me, agg.mp, agg.mi) == (1, 1, 1), agg
    print(
        f"pii_scrub {n_docs} docs: planted email/phone/ip totals "
        f"{want} all EXACT in {dt:.1f}s ({n_docs / dt / 1e6:.2f}M docs/s "
        f"through the zero-exchange scan-local redaction)"
    )
    # --- batching closed form: fold the 28-residue length counts ---
    per_shard: dict[int, dict[int, int]] = {s: {} for s in range(4)}
    for res in range(28):
        cnt = n_docs // 28 + (1 if res < n_docs % 28 else 0)
        ln, sh = 40 + res % 7, res % 4
        per_shard[sh][ln] = per_shard[sh].get(ln, 0) + cnt
    want_waste = want_batches = 0
    for sh, by_len in per_shard.items():
        lens = []
        for ln in sorted(by_len):
            lens.append((ln, by_len[ln]))
        # chunk the ascending multiset into batches of 8
        flatc = sum(c for _, c in lens)
        want_batches += -(-flatc // 8)
        # walk batch boundaries without enumerating docs
        idx = 0
        bounds = []
        for ln, c in lens:
            bounds.append((idx, idx + c, ln))
            idx += c
        for b in range(-(-flatc // 8)):
            lo, hi = b * 8, min((b + 1) * 8, flatc)
            mx, sm = 0, 0
            for s0, s1, ln in bounds:
                ov = max(0, min(hi, s1) - max(lo, s0))
                if ov:
                    mx = max(mx, ln)
                    sm += ov * ln
            want_waste += (hi - lo) * mx - sm
    t0 = time.time()
    got = (
        REGISTRY["c_batch_by_length"]
        .fn(spark, d)
        .agg(
            F.sum("pad_waste").alias("w"),
            F.sum("n_docs").alias("n"),
            F.count("*").alias("b"),
            F.max("n_docs").alias("mx"),
        )
        .first()
    )
    dt = time.time() - t0
    assert got.n == n_docs and got.mx == 8, got
    assert got.b == want_batches, (got.b, want_batches)
    assert got.w == want_waste, (got.w, want_waste)
    print(
        f"batch_by_length {n_docs} docs: {got.b} batches, total padding "
        f"waste {got.w} tokens == 28-residue closed form EXACT in {dt:.1f}s "
        f"({n_docs / dt / 1e6:.2f}M docs/s through the one-exchange "
        f"bucketed batcher)"
    )
    shutil.rmtree(d, ignore_errors=True)
    spark.catalog.clearCache()


def winnow_stress(spark, replicas: int = 100) -> None:
    """c_fingerprint_winnow at 500k docs / ~25M grams: replicate the
    sf0.1 corpus with disjoint doc_id spaces but IDENTICAL texts —
    winnowing is a pure per-document function, so every per-doc
    fingerprint set replicates verbatim and the corpus totals
    (fingerprint count, hash mass) are each exactly replicas x the
    base. Any cross-document state bleed through the doc_id window or
    a tiebreak instability would break the equality."""
    import shutil

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources import load_table

    sf = "/root/testdata/sf0.1"
    base = (
        REGISTRY["c_fingerprint_winnow"]
        .fn(spark, sf)
        .agg(
            F.sum("n_fp").alias("fp"),
            F.sum("fp_sum").alias("mass"),
            F.sum("n_grams").alias("g"),
        )
        .first()
    )
    docs = load_table(spark, sf, "documents")
    stride = docs.agg(F.max("doc_id")).first()[0] + 1
    out = "/tmp/dss_scale/winnow"
    shutil.rmtree(out, ignore_errors=True)
    (
        docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
        )
        .select(
            (F.col("doc_id") + F.col("rep") * stride).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    n_docs = spark.read.parquet(f"{out}/documents.parquet").count()
    t0 = time.time()
    agg = (
        REGISTRY["c_fingerprint_winnow"]
        .fn(spark, out)
        .agg(
            F.sum("n_fp").alias("fp"),
            F.sum("fp_sum").alias("mass"),
            F.sum("n_grams").alias("g"),
        )
        .first()
    )
    dt = time.time() - t0
    assert agg.fp == replicas * base.fp, (agg.fp, base.fp)
    assert agg.mass == replicas * base.mass, (agg.mass, base.mass)
    assert agg.g == replicas * base.g, (agg.g, base.g)
    print(
        f"winnow {n_docs} docs / {agg.g} grams: fingerprint count and hash "
        f"mass exactly {replicas}x base in {dt:.1f}s "
        f"({agg.g / dt / 1e6:.2f}M grams/s through the one-exchange "
        f"sliding-min plan)"
    )
    shutil.rmtree(out, ignore_errors=True)
    spark.catalog.clearCache()


def semdedup_stress(
    spark, n: int = 200_000, n_plant: int = 500, k: int = 2048, dim: int = 64
) -> None:
    """c_sim_dedup_kmeans at 200k vectors with PLANTED duplicates
    (round-7 verdict ask #2's stress row): n deterministic unit
    vectors + n_plant near-copies (cos ≈ 0.98 to their source, all
    other pairs concentrate near 0 in 64 dims), K=2048 centroids so
    clusters hold ~n/K ≈ 100 members — the K ∝ n scaling the SemDeDup
    paper runs (50k clusters at 100M). Ground truth is exact by
    construction: at threshold 0.8 (≈6σ of the random-pair cosine
    spread) the only above-threshold pairs are the planted ones, so
    the dedup must drop EXACTLY one member of each planted pair with
    dup_of == its partner, n_plant drops total, zero incidental.

    The heavy math runs the measured scale path (the _rhp_buckets_udf
    lesson — interpreted zip_with folds lose 100x+ to Arrow numpy):
    assignment is ONE matmul against the broadcast K×dim centroid
    matrix per Arrow batch, and the within-cluster pairwise pass is
    one V@V.T per cluster inside applyInPandas — per-cluster
    quadratic, cluster-bounded, identical verdicts to the certified
    join formulation at fixture scale."""
    t0 = time.time()
    total = n + n_plant
    # id < n: base vector from a multiplicative hash; id >= n: a copy of
    # src = (id-n)*397 % n plus a small deterministic perturbation
    src = f"CASE WHEN id < {n} THEN id ELSE ((id - {n}) * 397) % {n} END"
    # xxhash64 per (src, dim) cell: the affine-mod formula ann_stress
    # uses makes every vector a cyclic shift of one pattern (pairwise
    # cosines near 1 — fine for recall ranking, fatal for a dedup
    # ground truth); a real hash makes non-planted pairs concentrate
    # at cos ~ N(0, 1/sqrt(dim))
    base_expr = (
        f"transform(sequence(1, {dim}), d -> "
        f"CAST(pmod(xxhash64({src}, d), 1000) AS DOUBLE) / 500.0 - 1.0)"
    )
    perturb = (
        f"transform(sequence(1, {dim}), d -> CASE WHEN id < {n} THEN 0.0 "
        f"ELSE CAST((id * 31 + d * 7) % 7 - 3 AS DOUBLE) * 0.01 END)"
    )
    vecs = (
        spark.range(total)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(f"zip_with({base_expr}, {perturb}, (b, p) -> b + p)").alias("v"),
        )
        .repartition(64)
        .persist()
    )
    n_rows = vecs.count()
    print(f"semdedup materialize {n_rows} vectors: {time.time() - t0:.1f}s")

    t0 = time.time()
    # centroids: first k base vectors, unit-normalized on the driver
    cents = np.stack(
        [
            np.array(r.v, dtype=np.float64)
            for r in vecs.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast(cents)

    @F.pandas_udf("struct<cluster_id: long, cent_sim: double>")
    def assign(v: pd.Series) -> pd.DataFrame:
        x = np.stack([np.asarray(a, dtype=np.float64) for a in v])
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        sims = x @ bc.value.T  # (batch, K) — ONE matmul per Arrow batch
        best = sims.argmax(axis=1)
        return pd.DataFrame(
            {"cluster_id": best, "cent_sim": sims[np.arange(len(x)), best]}
        )

    assigned = vecs.select("vec_id", "v", assign("v").alias("a")).select(
        "vec_id", "v", "a.cluster_id", "a.cent_sim"
    )

    TH = 0.8
    out_schema = (
        "vec_id long, cluster_id long, dup_of long, cos_sim double"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # SemDeDup scan order: low centroid-similarity first (kept
        # preferentially), vec_id tiebreak — same rule as the query
        pdf = pdf.sort_values(["cent_sim", "vec_id"]).reset_index(drop=True)
        x = np.stack([np.asarray(a, dtype=np.float64) for a in pdf["v"]])
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        m = x @ x.T  # one per-cluster matmul
        rows = []
        for i in range(1, len(pdf)):
            earlier = m[i, :i]
            j = int(earlier.argmax())
            if earlier[j] >= TH:
                rows.append(
                    (
                        int(pdf.vec_id[i]),
                        int(pdf.cluster_id[i]),
                        int(pdf.vec_id[j]),
                        float(earlier[j]),
                    )
                )
        return pd.DataFrame(
            rows, columns=["vec_id", "cluster_id", "dup_of", "cos_sim"]
        )

    assigned = assigned.persist()
    dropped = (
        assigned.groupBy("cluster_id")
        .applyInPandas(dedup_cluster, out_schema)
        .collect()
    )
    dt = time.time() - t0
    got = {(r.vec_id, r.dup_of) for r in dropped}
    # Cluster-aware EXACT ground truth: a planted pair is recoverable
    # iff both members land in the same cluster — boundary-straddling
    # pairs are SemDeDup's documented recall tradeoff (the paper's
    # too: within-cluster pruning cannot see across cells). The
    # within-cluster verdicts themselves must be exact: one drop per
    # same-cluster planted pair, zero incidental.
    pid = {j: ((j * 397) % n, n + j) for j in range(n_plant)}
    planted_ids = {v for ab in pid.values() for v in ab}
    cl = {
        r.vec_id: r.cluster_id
        for r in assigned.filter(
            F.col("vec_id").isin([int(v) for v in planted_ids])
        ).collect()
    }
    same = {j for j, (a, b) in pid.items() if cl[a] == cl[b]}
    expect_pairs = {frozenset(pid[j]) for j in same}
    assert len(same) >= 0.9 * n_plant, (len(same), n_plant)
    assert len(dropped) == len(same), (len(dropped), len(same))
    got_pairs = {frozenset((v, d)) for v, d in got}
    assert got_pairs == expect_pairs, (
        list(got_pairs ^ expect_pairs)[:5]
    )
    print(
        f"semdedup {n_rows} vectors K={k}: dropped exactly one member of "
        f"each of the {len(same)}/{n_plant} same-cluster planted pairs "
        f"(zero incidental at cos>={TH}; {n_plant - len(same)} "
        f"boundary-straddling pairs unseen by design) in {dt:.1f}s "
        f"({n_rows / dt / 1e3:.0f}k vec/s through assign-matmul + "
        f"per-cluster V@V.T, cluster-bounded pair space)"
    )

    # ---- HYBRID recovery pass (round-9 ask #2): cross-cluster RHP-LSH
    # candidates close the boundary-straddler gap — the stress must now
    # recover ALL n_plant planted pairs, not just the same-cluster ones.
    # 16 bands x 20 bits: a planted pair (theta ~ 0.035 rad, per-bit
    # flip ~1.1%) agrees on a whole band w.p. ~0.80, across 16 bands
    # collision prob ~1-0.2^16 ~ 1; random pairs (theta ~ pi/2) collide
    # w.p. ~2^-20 per band, so the candidate set stays tiny.
    t0 = time.time()
    bands, rows_per_band = 16, 20
    n_planes = bands * rows_per_band

    def _mixu(x):
        x = x.astype(np.uint64)
        with np.errstate(over="ignore"):
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
            x = x ^ (x >> np.uint64(33))
        return x

    hh, dd2 = np.meshgrid(np.arange(n_planes), np.arange(dim), indexing="ij")
    planes = np.where(
        (_mixu(hh * 64 + dd2 + 7_777_777) >> np.uint64(13)) & np.uint64(1),
        1.0,
        -1.0,
    )  # (n_planes, dim)
    bc_pl = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(rows_per_band)).astype(np.int64)

    def bucketize(batches):
        pl = bc_pl.value
        for pdf in batches:
            x = np.stack([np.asarray(a) for a in pdf["v"]])
            bits = (x @ pl.T) > 0  # (batch, n_planes)
            bk = (
                bits.reshape(len(x), bands, rows_per_band) * weights
            ).sum(axis=2)
            vid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vid, bands),
                    "band": np.tile(np.arange(bands), len(x)),
                    "bucket": bk.reshape(-1),
                }
            )

    buckets = assigned.select("vec_id", "v").mapInPandas(
        bucketize, "vec_id long, band int, bucket long"
    )
    wb = Window.partitionBy("band", "bucket")
    okb = (
        buckets.withColumn("nb", F.count("*").over(wb))
        .filter((F.col("nb") >= 2) & (F.col("nb") <= 1000))
        .drop("nb")
    )
    cand = (
        okb.select(F.col("vec_id").alias("va"), "band", "bucket")
        .join(
            okb.select(F.col("vec_id").alias("vb"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )
    cl_a = assigned.select(
        F.col("vec_id").alias("va"),
        F.col("cluster_id").alias("cl_a"),
        F.col("v").alias("xa"),
    )
    cl_b = assigned.select(
        F.col("vec_id").alias("vb"),
        F.col("cluster_id").alias("cl_b"),
        F.col("v").alias("xb"),
    )

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack([np.asarray(x) for x in pdf["xa"]])
            b = np.stack([np.asarray(x) for x in pdf["xb"]])
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            b /= np.linalg.norm(b, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "va": pdf["va"].to_numpy(),
                    "vb": pdf["vb"].to_numpy(),
                    "cos": np.einsum("bd,bd->b", a, b),
                }
            )

    cross = (
        cand.join(cl_a, "va")
        .join(cl_b, "vb")
        .filter(F.col("cl_a") != F.col("cl_b"))
        .select("va", "vb", "xa", "xb")
        .mapInPandas(verify, "va long, vb long, cos double")
        .filter(F.col("cos") >= TH)
        .select("va", "vb")
        .collect()
    )
    dt2 = time.time() - t0
    cross_pairs = {frozenset((r.va, r.vb)) for r in cross}
    straddler_pairs = {frozenset(pid[j]) for j in set(pid) - same}
    all_pairs = {frozenset(ab) for ab in pid.values()}
    recovered = got_pairs | cross_pairs
    # every straddler recovered by the LSH path, zero incidental
    # cross-cluster pairs at the threshold, full 500/500 union
    assert straddler_pairs <= cross_pairs, (
        len(straddler_pairs - cross_pairs)
    )
    assert cross_pairs <= all_pairs, list(cross_pairs - all_pairs)[:5]
    assert recovered == all_pairs, (len(recovered), len(all_pairs))
    print(
        f"semdedup-hybrid: cross-cluster RHP-LSH ({bands}x{rows_per_band} "
        f"bits) recovered ALL {len(straddler_pairs)} boundary straddlers "
        f"(union {len(recovered)}/{n_plant} planted pairs, zero "
        f"incidental) in +{dt2:.1f}s"
    )
    assigned.unpersist()
    vecs.unpersist()
    spark.catalog.clearCache()


def substring_rewrite_stress(spark, n_docs: int = 1_000_000) -> None:
    """c_dedup_substring_rewrite's shape at 1M docs with a HOT planted
    span: every doc = 4 unique filler tokens + the SAME verbatim
    8-token block + 4 more unique tokens (16 tokens/doc, 16M total).
    This is exactly the case the detection query's pair join would go
    quadratic on (one span with 1M occurrences -> C(1M,2) pairs); the
    rewrite path is occurrence-LINEAR by construction (global-first
    window + coverage union, no pair join). Ground truth closed-form:
    doc 0 keeps all 16 tokens; every other doc loses exactly the 8
    planted tokens; kept mass = 16 + (n-1)*8; removed = (n-1)*8."""
    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_c import SUBSTR_K

    t0 = time.time()
    span = " ".join(f"hot{i}" for i in range(SUBSTR_K))
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(F.lit("ua"), F.col("id")),
                F.concat(F.lit("ub"), F.col("id")),
                F.concat(F.lit("uc"), F.col("id")),
                F.concat(F.lit("ud"), F.col("id")),
                F.lit(span),
                F.concat(F.lit("ue"), F.col("id")),
                F.concat(F.lit("uf"), F.col("id")),
                F.concat(F.lit("ug"), F.col("id")),
                F.concat(F.lit("uh"), F.col("id")),
            ).alias("text"),
        )
        .repartition(64)
    )
    out = "/tmp/dss_scale/srw_docs"
    docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("synth").alias("source"), F.length("text").alias("n_chars"),
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    print(f"srw materialize {n_docs} docs: {time.time() - t0:.1f}s")

    from demo_segmenter_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    t0 = time.time()
    res = (
        REGISTRY["c_dedup_substring_rewrite"]
        .fn(spark, out)
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("toks"),
            F.sum("n_kept").alias("kept"),
            F.sum("n_removed").alias("removed"),
            F.sum(F.when(F.col("n_removed") == 0, 1).otherwise(0)).alias(
                "untouched"
            ),
        )
        .first()
    )
    dt = time.time() - t0
    assert res.docs == n_docs
    assert res.toks == 16 * n_docs
    assert res.removed == (n_docs - 1) * SUBSTR_K, res
    assert res.kept == 16 * n_docs - (n_docs - 1) * SUBSTR_K
    assert res.untouched == 1  # only the global-first doc
    print(
        f"substring_rewrite {n_docs} docs / {res.toks} tokens, ONE span "
        f"duplicated {n_docs}x: removed mass exactly (n-1)*{SUBSTR_K} "
        f"closed-form in {dt:.1f}s ({res.toks / dt / 1e6:.2f}M tokens/s "
        f"through the pair-join-free occurrence-linear plan)"
    )
    from demo_segmenter_spark.functions.cache import release_persisted

    release_persisted(spark, owner=True)
    spark.catalog.clearCache()


def unigram_stress(spark, n_words: int = 200_000) -> None:
    """Unigram-LM tokenizer EM at VOCABULARY scale: 200k distinct
    8-char words (md5-derived, deduped) with spread frequencies — the
    size regime where the 'everything after the corpus groupBy is
    distinct-word-sized' claim in c_token_unigram's docstring has to
    hold. Runs the exact production helpers (seed -> 2 hard-EM rounds
    -> final Viterbi) and checks two EXACT invariants over all words:

    - COVERAGE: every word's Viterbi path concatenates back to the
      word (sum of piece lengths == word length, zero violations) —
      the single-char floor guarantees a path exists; this proves the
      DP found a complete one for all 200k words.
    - MASS: total piece count mass == frequency-weighted path usage,
      aggregated two independent ways (the M-step table vs a direct
      paths x words join)."""
    from demo_segmenter_spark.functions.cache import release_persisted
    from demo_segmenter_spark.operators.layer_c import (
        UNI_MAXP,
        UNI_SEED,
        _unigram_counts,
        _unigram_ilogp,
        _unigram_viterbi,
    )

    t0 = time.time()
    uwords = (
        spark.range(n_words * 2)
        .select(
            F.expr("substring(md5(CAST(id AS STRING)), 1, 8)").alias("word"),
            (F.col("id") % 37 + 1).cast("long").alias("wf"),
        )
        .groupBy("word")
        .agg(F.sum("wf").cast("long").alias("wfreq"))
        .withColumn("wlen", F.length("word").cast("long"))
        .limit(n_words)
        .repartition(64)
        .persist()
    )
    nw = uwords.count()
    s_l = uwords.select(
        "word", "wfreq", "wlen",
        F.explode(F.sequence(F.lit(1), F.col("wlen"))).alias("s"),
    ).select(
        "word", "wfreq", "s",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(UNI_MAXP), F.col("wlen") - F.col("s") + 1),
            )
        ).alias("l"),
    )
    seedcnt = (
        s_l.select(
            F.expr("substring(word, s, l)").alias("piece"),
            F.col("l").cast("long").alias("l"),
            "wfreq",
        )
        .groupBy("piece", "l")
        .agg(F.sum("wfreq").cast("long").alias("cnt"))
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), "piece")
    cnt0 = (
        seedcnt.withColumn("r", F.row_number().over(w_rank))
        .filter((F.col("r") <= UNI_SEED) | (F.col("l") == 1))
        .drop("r")
        .persist()
    )
    print(
        f"unigram materialize {nw} distinct words, seed vocab "
        f"{cnt0.count()} pieces: {time.time() - t0:.1f}s"
    )

    t0 = time.time()
    v0 = _unigram_ilogp(cnt0)
    p1 = _unigram_viterbi(uwords, v0)
    cnt1 = _unigram_counts(p1, uwords, cnt0)
    v1 = _unigram_ilogp(cnt1)
    p2 = _unigram_viterbi(uwords, v1)
    # COVERAGE: zero words whose path lengths don't sum to the word
    bad = (
        p2.groupBy("word")
        .agg(F.sum("l").alias("suml"))
        .join(uwords, "word")
        .filter(F.col("suml") != F.col("wlen"))
        .count()
    )
    assert bad == 0, bad
    # MASS two ways: the M-step table vs a direct paths-x-words join
    cnt2 = _unigram_counts(p2, uwords, cnt0)
    m1 = cnt2.agg(F.sum("cnt")).first()[0]
    m2 = (
        p2.join(uwords.select("word", "wfreq"), "word")
        .agg(F.sum("wfreq"))
        .first()[0]
    )
    assert m1 == m2, (m1, m2)
    dt = time.time() - t0
    print(
        f"unigram EM {nw} words x 2 rounds + final Viterbi: coverage "
        f"exact on all words, piece mass {m1} double-entry exact, in "
        f"{dt:.1f}s ({nw * 3 / dt / 1e3:.0f}k word-segmentations/s "
        f"through the mapInPandas DP)"
    )
    release_persisted(spark, owner=True)
    uwords.unpersist()
    cnt0.unpersist()
    spark.catalog.clearCache()




def ivfpq_stress(
    spark,
    n: int = 200_000,
    n_q: int = 20,
    plant: int = 10,
    g: int = 64,
    dim: int = 64,
    pq_m: int = 16,
    pq_k: int = 256,
    shortlist: int = 100,
    k: int = 10,
) -> None:
    """c_sim_ivfpq_adc's shape at 200k vectors on CLUSTERABLE planted
    data (round-9 verdict ask #1's stress row, next to the trained-IVF
    one): g=64 well-separated centers, every vector = center + 0.3
    noise, and per query 10 planted near-copies (+-0.02 perturbation)
    whose exact top-10 the compressed index must recover. The full
    IVFADC chain runs the measured scale path (Arrow-batch matmuls,
    never interpreted folds): seed coarse centroids -> one distributed
    Lloyd round -> residuals -> 16x256 per-subspace PQ codebooks (2
    bits/dim, 16 bytes/vector) seeded from the first 256 residuals ->
    one Euclidean Lloyd update (asserted to REDUCE mean reconstruction
    error — the RVQ lesson in the IVFPQ composition) -> nprobe=2 cell
    routing -> LUT-only ADC scoring of probed-cell members -> FAISS
    refine stage: exact re-rank of the ADC top-100 shortlist (the
    IndexRefineFlat idiom — shortlist cost is query-proportional,
    never corpus-proportional). Measured quantization physics drove
    the config: at 1 bit/dim (8x256) the ADC noise q*e swamps the
    ~0.08 cosine margin at the 6000-candidate tail (shortlist-1000
    containment was only 0.83); 2 bits/dim + refine is the honest
    production remedy. Invariants: every query's probe set contains
    its own cell, the Lloyd update reduces mean residual error, and
    refined recall@10 vs the exact brute-force top-10 >= 0.9 — on
    separated clusters the compressed index must find the planted
    neighborhood, not just "return rows"."""
    t0 = time.time()
    total = n + n_q + n_q * plant

    # Splitmix64-style mixer: the affine (id*K + d*K2) % M formula is
    # NOT a hash — 200k ids map into M slots with near-collisions, so
    # unrelated vectors come out bit-identical (measured: cos = 1.0
    # exact-top entries from OTHER clusters) and the planted ground
    # truth dissolves. Same lesson semdedup_stress recorded; a real
    # mixer makes noise cells iid.
    def _mix(x):
        x = x.astype(np.uint64)
        with np.errstate(over="ignore"):
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xC4CEB9FE1A85EC53)
            x = x ^ (x >> np.uint64(33))
        return x

    def _unit_cells(keys):
        # uint64 hash -> double in [-1, 1)
        return (
            (_mix(keys) >> np.uint64(11)).astype(np.float64)
            / float(1 << 53)
        ) * 2.0 - 1.0

    def centers_np():
        gg, dd = np.meshgrid(np.arange(g), np.arange(dim), indexing="ij")
        return _unit_cells(gg * 131 + dd + 1_000_003)

    def noise_np(ids):
        ii, dd = np.meshgrid(ids, np.arange(dim), indexing="ij")
        return _unit_cells(ii * 64 + dd)

    def build_vecs(ids: np.ndarray) -> np.ndarray:
        C = centers_np()
        out = np.empty((len(ids), dim))
        base = ids < n
        qry = (ids >= n) & (ids < n + n_q)
        pl = ids >= n + n_q
        if base.any():
            out[base] = C[ids[base] % g] + 0.3 * noise_np(ids[base])
        if qry.any():
            j = ids[qry] - n
            out[qry] = C[(3 * j) % g] + 0.3 * noise_np(ids[qry])
        if pl.any():
            j = (ids[pl] - n - n_q) // plant
            qids = n + j
            qv = C[(3 * j) % g] + 0.3 * noise_np(qids)
            out[pl] = qv + 0.02 * noise_np(ids[pl])
        # UNIT vectors: the ANN family's metric is cosine (the raw-dot
        # form lets big-|center| clusters dominate every top-k and the
        # planted ground truth dissolves — measured: 0/200 planted
        # copies in the raw-dot exact top-10). On unit vectors L2
        # coarse assignment, IP-ADC and the exact dot all rank by
        # cosine, and the 0.02-perturbation copies are the true
        # neighborhood by construction.
        out /= np.linalg.norm(out, axis=1, keepdims=True)
        return out

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {"vec_id": ids, "v": list(build_vecs(ids))}
            )

    vecs = (
        spark.range(total)
        .repartition(64)
        .mapInPandas(gen, "vec_id long, v array<double>")
        .persist()
    )
    n_rows = vecs.count()
    print(f"ivfpq materialize {n_rows} vectors: {time.time() - t0:.1f}s")

    t0 = time.time()
    # ---- coarse quantizer: seeds = first g base vectors (one per
    # planted cluster), one distributed Lloyd round --------------------
    seeds = np.stack(
        [
            np.array(r.v)
            for r in vecs.filter(F.col("vec_id") < g).orderBy("vec_id").collect()
        ]
    )
    bc_seed = spark.sparkContext.broadcast(seeds)

    def mk_assign(bc):
        @F.pandas_udf("long")
        def assign(v: pd.Series) -> pd.Series:
            x = np.stack([np.asarray(a) for a in v])
            cm = bc.value
            d2 = (
                (x * x).sum(1)[:, None]
                - 2 * x @ cm.T
                + (cm * cm).sum(1)[None, :]
            )
            return pd.Series(d2.argmin(axis=1))

        return assign

    a0 = vecs.filter(F.col("vec_id") < n).select(
        "vec_id", "v", mk_assign(bc_seed)("v").alias("c")
    )
    trained = (
        a0.select("c", F.posexplode("v").alias("i", "x"))
        .groupBy("c", "i")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    cents = np.zeros((g, dim))
    for r in trained:
        cents[r.c, r.i] = r.m
    bc_cent = spark.sparkContext.broadcast(cents)

    # ---- final assignment + residuals --------------------------------
    assigned = vecs.select(
        "vec_id", "v", mk_assign(bc_cent)("v").alias("cell")
    ).persist()
    assigned.count()

    # ---- per-subspace PQ codebooks on residuals -----------------------
    rseed_rows = assigned.filter(F.col("vec_id") < pq_k).orderBy("vec_id").collect()
    books0 = np.stack(
        [
            np.array(r.v) - cents[r.cell]
            for r in rseed_rows
        ]
    ).reshape(pq_k, pq_m, dim // pq_m)  # (code, s, j)
    bc_b0 = spark.sparkContext.broadcast(books0)

    def mk_encode(bc):
        @F.pandas_udf(
            "struct<codes: array<int>, d2: double>"
        )
        def encode(v: pd.Series, cell: pd.Series) -> pd.DataFrame:
            x = np.stack([np.asarray(a) for a in v])
            r = x - bc_cent.value[cell.to_numpy()]
            rs = r.reshape(len(x), pq_m, dim // pq_m)
            books = bc.value  # (code, s, j)
            codes = np.empty((len(x), pq_m), dtype=np.int32)
            err = np.zeros(len(x))
            for s in range(pq_m):
                cb = books[:, s, :]
                d2 = (
                    (rs[:, s] * rs[:, s]).sum(1)[:, None]
                    - 2 * rs[:, s] @ cb.T
                    + (cb * cb).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
                err += d2[np.arange(len(x)), codes[:, s]]
            return pd.DataFrame({"codes": list(codes), "d2": err})

        return encode

    e0 = assigned.select(
        "vec_id", "cell", mk_encode(bc_b0)("v", "cell").alias("e")
    )
    d2_seed = e0.agg(F.avg("e.d2")).first()[0]

    # one Euclidean Lloyd update per subspace codebook: a groupBy
    # (s, code, j) mean on exploded rows would shuffle 12.8M skinny
    # rows — instead accumulate per-partition (sum, count) per
    # (s, code, j) in numpy and reduce the tiny 4x256 table.
    def part_sums(batches):
        books = bc_b0.value
        acc_s = np.zeros((pq_m, pq_k, dim // pq_m))
        acc_n = np.zeros((pq_m, pq_k))
        for pdf in batches:
            x = np.stack([np.asarray(a) for a in pdf["v"]])
            r = x - bc_cent.value[pdf["cell"].to_numpy()]
            rs = r.reshape(len(x), pq_m, dim // pq_m)
            for s in range(pq_m):
                cb = books[:, s, :]
                d2 = (
                    (rs[:, s] * rs[:, s]).sum(1)[:, None]
                    - 2 * rs[:, s] @ cb.T
                    + (cb * cb).sum(1)[None, :]
                )
                code = d2.argmin(axis=1)
                np.add.at(acc_s[s], code, rs[:, s])
                np.add.at(acc_n[s], code, 1)
        yield pd.DataFrame(
            {
                "s": np.repeat(np.arange(pq_m), pq_k),
                "code": np.tile(np.arange(pq_k), pq_m),
                "cnt": acc_n.reshape(-1),
                "sums": list(acc_s.reshape(pq_m * pq_k, dim // pq_m)),
            }
        )

    sums = (
        assigned.select("v", "cell")
        .mapInPandas(part_sums, "s int, code int, cnt double, sums array<double>")
        .groupBy("s", "code")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.array(*[
                F.sum(F.element_at("sums", j + 1)) for j in range(dim // pq_m)
            ]).alias("sums"),
        )
        .collect()
    )
    books1 = books0.transpose(1, 0, 2).copy()  # (s, code, j)
    for r in sums:
        if r.cnt and r.cnt > 0:
            books1[r.s, r.code] = np.array(r.sums) / r.cnt
    bc_b1 = spark.sparkContext.broadcast(books1.transpose(1, 0, 2).copy())

    codes_df = assigned.select(
        "vec_id", "cell", mk_encode(bc_b1)("v", "cell").alias("e")
    ).persist()
    d2_upd = codes_df.agg(F.avg("e.d2")).first()[0]
    assert d2_upd <= d2_seed, (d2_upd, d2_seed)

    # ---- ADC search: nprobe=2 cell routing, LUT-only scoring ----------
    qrows = (
        vecs.filter((F.col("vec_id") >= n) & (F.col("vec_id") < n + n_q))
        .orderBy("vec_id")
        .collect()
    )
    Q = np.stack([np.array(r.v) for r in qrows])  # (n_q, dim)
    qd2 = (
        (Q * Q).sum(1)[:, None]
        - 2 * Q @ cents.T
        + (cents * cents).sum(1)[None, :]
    )
    probe = np.argsort(qd2, axis=1)[:, :2]  # (n_q, 2)
    own_cell = qd2.argmin(axis=1)
    assert all(own_cell[j] in probe[j] for j in range(n_q))
    lutc = Q @ cents.T  # (n_q, g)
    qs = Q.reshape(n_q, pq_m, dim // pq_m)
    b1 = books1  # (s, code, j)
    luts = np.einsum("qsj,scj->qsc", qs, b1)  # (n_q, s, code)
    bc_q = spark.sparkContext.broadcast((probe, lutc, luts))

    def adc_score(batches):
        probe_, lutc_, luts_ = bc_q.value
        for pdf in batches:
            cells = pdf["cell"].to_numpy()
            codes = np.stack([np.asarray(c) for c in pdf["codes"]])
            vec_ids = pdf["vec_id"].to_numpy()
            outs = []
            for qj in range(len(probe_)):
                mask = np.isin(cells, probe_[qj])
                if not mask.any():
                    continue
                sc = lutc_[qj, cells[mask]].copy()
                for s in range(codes.shape[1]):
                    sc += luts_[qj, s, codes[mask, s]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qj,
                            "vec_id": vec_ids[mask],
                            "score": sc,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    flat = codes_df.select(
        "vec_id", "cell", F.col("e.codes").alias("codes")
    )
    # candidates exclude the queries themselves
    scored = (
        flat.filter((F.col("vec_id") < n) | (F.col("vec_id") >= n + n_q))
        .mapInPandas(adc_score, "query_id int, vec_id long, score double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "vec_id"
    )
    bc_Q = spark.sparkContext.broadcast(Q)
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "vec_id")
    )
    # FAISS refine: exact re-rank of the query-proportional shortlist
    # (n_q x shortlist rows) against the raw vectors — the broadcast
    # join touches only shortlist members, never the corpus.
    def refine(batches):
        Qm = bc_Q.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(a) for a in pdf["v"]])
            qj = pdf["query_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": qj,
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "score": np.einsum("bd,bd->b", x, Qm[qj]),
                }
            )

    adc_top = (
        F.broadcast(short)
        .join(vecs, "vec_id")
        .select("query_id", "vec_id", "v")
        .mapInPandas(refine, "query_id int, vec_id long, score double")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
        .collect()
    )

    # ---- exact brute-force top-k for the same queries -----------------

    def exact_score(batches):
        for pdf in batches:
            x = np.stack([np.asarray(a) for a in pdf["v"]])
            s = x @ bc_Q.value.T  # (batch, n_q) raw dot (same metric)
            vec_ids = pdf["vec_id"].to_numpy()
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "query_id": qj,
                            "vec_id": vec_ids,
                            "score": s[:, qj],
                        }
                    )
                    for qj in range(s.shape[1])
                ],
                ignore_index=True,
            )

    exact_top = (
        vecs.filter((F.col("vec_id") < n) | (F.col("vec_id") >= n + n_q))
        .mapInPandas(exact_score, "query_id int, vec_id long, score double")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("query_id", "vec_id")
        .collect()
    )
    dt = time.time() - t0
    got = {(r.query_id, r.vec_id) for r in adc_top}
    want = {(r.query_id, r.vec_id) for r in exact_top}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, recall
    print(
        f"ivfpq {n_rows} vectors g={g} pq={pq_m}x{pq_k} nprobe=2 "
        f"refine@{shortlist}: Lloyd update cut mean residual err "
        f"{d2_seed:.4f} -> {d2_upd:.4f}, refined recall@{k} "
        f"{recall:.2f} vs exact "
        f"({len(want)} truth pairs) in {dt:.1f}s "
        f"({n_rows / dt / 1e6:.2f}M vec/s train+search)"
    )
    codes_df.unpersist()
    assigned.unpersist()
    vecs.unpersist()
    spark.catalog.clearCache()




def nb_stress(spark, n_docs: int = 1_000_000, toks_per_doc: int = 30) -> None:
    """c_quality_nb's shape at 1M docs with a PLANTED token-distribution
    signal: even docs draw token ids from [0, 600), odd docs from
    [400, 1000) — two-thirds of every doc's tokens are class-exclusive,
    so a correct hashed-bag NB must recover the class on held-out docs
    near-perfectly, while a counting bug (dropped bucket, double-added
    batch, sign flip) collapses accuracy toward 0.5. Same plan shape as
    the query: scan-local tokenize+bucket, ONE 128-bucket count rollup
    (map-side partials), broadcast weights, per-doc integer sums."""
    t0 = time.time()
    tpd = toks_per_doc

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            ii, jj = np.meshgrid(ids, np.arange(tpd), indexing="ij")
            h = (ii * 2654435761 + jj * 40503) % 600
            tok = np.where(ii % 2 == 0, h, 400 + (h * 997) % 600)
            texts = [
                " ".join(f"t{v}" for v in row) for v, row in zip(ids, tok)
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "label": ids % 2, "text": texts}
            )

    docs = (
        spark.range(n_docs)
        .repartition(64)
        .mapInPandas(gen, "doc_id long, label long, text string")
        .persist()
    )
    n_rows = docs.count()
    print(f"nb materialize {n_rows} docs: {time.time() - t0:.1f}s")

    t0 = time.time()
    # 4096 buckets, not the fixture query's 128: with a 1000-token
    # vocab, 128 buckets put ~8 tokens in each bucket and hash
    # collisions mix the two class pools (measured: held-out acc 0.93);
    # growing the hashed feature space until buckets are ~1 token wide
    # is exactly the knob production hashed-NB/fastText pipelines turn.
    NB = 4096
    lab = docs.withColumn(
        "is_train", (F.col("doc_id") * 2654435761) % 4294967296 % 100 < 80
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % NB
    )
    tok = lab.select(
        "doc_id", "label", "is_train", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", "label", "is_train", bucket.alias("b"))
    cnt = (
        tok.filter("is_train")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).alias("npb"),
            F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).alias("nfb"),
        )
    )
    grid = (
        spark.range(NB)
        .select(F.col("id").alias("b"))
        .join(cnt, "b", "left")
        .na.fill(0, ["npb", "nfb"])
    )
    tot = grid.agg(F.sum("npb").alias("tp"), F.sum("nfb").alias("tf"))
    micro = lambda c: F.round(c * 1_000_000 + F.lit(1e-4)).cast("long")
    wt = grid.crossJoin(F.broadcast(tot)).select(
        "b",
        micro(
            F.log(
                ((F.col("npb") + 1.0) * (F.col("tf") + NB))
                / ((F.col("nfb") + 1.0) * (F.col("tp") + NB))
            )
        ).alias("wm"),
    )
    pri = lab.filter("is_train").agg(
        micro(
            F.log(
                F.sum(F.when(F.col("label") == 0, 1).otherwise(0)) * 1.0
                / F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
            )
        ).alias("pm")
    )
    score = (
        tok.join(F.broadcast(wt), "b")
        .crossJoin(F.broadcast(pri))
        .groupBy("doc_id")
        .agg(
            F.any_value("label").alias("label"),
            F.any_value("is_train").alias("is_train"),
            (F.any_value("pm") + F.sum("wm")).alias("sm"),
        )
    )
    acc = score.select(
        F.avg(
            F.when(
                ~F.col("is_train"),
                ((F.col("sm") >= 0) == (F.col("label") == 0)).cast("int"),
            )
        ).alias("ho"),
        F.avg(
            F.when(
                F.col("is_train"),
                ((F.col("sm") >= 0) == (F.col("label") == 0)).cast("int"),
            )
        ).alias("tr"),
    ).first()
    dt = time.time() - t0
    assert acc.ho is not None and acc.tr is not None
    assert acc.ho >= 0.995 and acc.tr >= 0.995, (acc.ho, acc.tr)
    print(
        f"nb {n_rows} docs x {tpd} tokens: held-out acc {acc.ho:.4f}, "
        f"train acc {acc.tr:.4f} in {dt:.1f}s "
        f"({n_rows / dt / 1e3:.0f}k docs/s through tokenize -> {NB}-bucket "
        f"rollup -> broadcast-scored integer sums)"
    )
    docs.unpersist()
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
