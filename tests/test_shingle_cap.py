"""Document-frequency cap on shingle self-joins (SHINGLE_DF_CAP).

Three contracts:

1. The cap is provably inert on the fixture — max per-block shingle df
   is far below the cap at every sf (measured 5 at sf0.1), so
   c_dedup_ngram's output is IDENTICAL to the uncapped computation.
2. On a corpus with one deliberately hot boilerplate shingle, the cap
   bounds the candidate pair count (no k² blowup) while a planted
   high-Jaccard pair still surfaces.
3. The planted fixture pair (j≈0.97) survives the cap.

The shingle block lane (_doc_shingle_pairs below CAPS["shingle"])
and the distributed chain return the same pairs on the hot corpus and
on the cap and short-doc edges.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_segmenter_spark.functions import lanes
from demo_segmenter_spark.operators.layer_c import (
    SHINGLE_DF_CAP,
    _doc_shingle_pairs,
    _shingle_doc_table,
    _shingle_pairs,
    _shingles,
    c_dedup_ngram,
)
from tests.conftest import SF_SMOKE


def _shingle_table(docs):
    return _shingle_doc_table(docs, _shingles())


def test_fixture_df_below_cap(spark, ddb):
    """Cap never fires on fixture data — pinned so fixture regeneration
    that introduces boilerplate gets noticed here, not as a silent
    output change."""
    max_df = ddb.execute(
        """
        WITH toks AS (SELECT doc_id, lang, source,
                             string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, lang, source, t,
                       unnest(generate_series(1, greatest(len(t)-2,0))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id, lang, source,
                      t[i]||' '||t[i+1]||' '||t[i+2] AS s FROM idx)
        SELECT max(cnt) FROM (
            SELECT count(*) AS cnt FROM sh GROUP BY lang, source, s)
        """
    ).fetchone()[0]
    assert max_df <= SHINGLE_DF_CAP


def test_capped_output_identical_on_fixture(spark):
    """Uncapped twin computed inline == the shipped capped query."""
    from demo_segmenter_spark.sources import load_table

    capped = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in c_dedup_ngram(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = _shingle_table(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("inter") * 1.0 / (F.col("sza") + F.col("szb") - F.col("inter"))
    uncapped = {
        (r.doc_a, r.doc_b, round(r.j, 4))
        for r in pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", jac.alias("j"))
        .collect()
    }
    assert {(p[0], p[1]) for p in capped} == {(p[0], p[1]) for p in uncapped}
    assert len(capped) >= 1  # the planted j≈0.97 pair


@pytest.fixture()
def hot_corpus(spark):
    """120 docs sharing one boilerplate sentence (every shingle of it
    has df=122 > cap) plus unique filler; docs 1000/1001 are a planted
    near-dup pair sharing 40 rare shingles."""
    boiler = "all rights reserved by the demo corpus banner"
    rows = []
    for d in range(120):
        filler = " ".join(f"u{d}w{j}" for j in range(20))
        rows.append((d, f"{boiler} {filler}", "en", "web"))
    dup = " ".join(f"rare{j}" for j in range(42))
    rows.append((1000, dup, "en", "web"))
    rows.append((1001, dup + " tail", "en", "web"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    return df


def test_hot_shingle_bounded_candidates(spark, hot_corpus):
    pairs = _shingle_pairs(_shingle_table(hot_corpus))
    # Uncapped, the 6 boilerplate-internal shingles alone emit
    # 6*C(120,2) ≈ 43k candidate co-occurrences; capped, only the
    # planted pair's rare shingles survive (boundary shingles
    # straddling boiler|filler have df=1 and emit nothing).
    total = pairs.agg(F.sum("inter")).first()[0]
    assert total < 100
    # ... and the planted pair is still fully visible.
    planted = pairs.filter(
        (F.col("doc_a") == 1000) & (F.col("doc_b") == 1001)
    ).first()
    assert planted is not None and planted.inter == 40


def _pairs_both_routes(monkeypatch, docs):
    """Sorted (doc_a, doc_b, inter, sza, szb) rows of _doc_shingle_pairs
    with the shingle lane on, checked equal to the chain's."""
    from demo_segmenter_spark.plans.inspect import explain_str

    lane = _doc_shingle_pairs(docs)
    assert "MapInPandas" in explain_str(lane)
    got = sorted(tuple(r) for r in lane.collect())
    with monkeypatch.context() as m:
        m.setitem(lanes.CAPS, "shingle", -1)
        chain = _doc_shingle_pairs(docs)
        assert "MapInPandas" not in explain_str(chain)
        ref = sorted(tuple(r) for r in chain.collect())
    assert got == ref
    return got


def test_hot_shingle_lane_matches_chain(spark, monkeypatch, hot_corpus):
    rows = _pairs_both_routes(monkeypatch, hot_corpus)
    assert sum(r[2] for r in rows) < 100
    assert (1000, 1001, 40, 40, 41) in rows


def _shared_shingle_corpus(spark, n_docs):
    """n_docs docs of one block sharing exactly one shingle ("hot a b"),
    each followed by unique filler tokens."""
    rows = [
        (d, "hot a b " + " ".join(f"u{d}w{j}" for j in range(3)), "en", "web")
        for d in range(n_docs)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_group_of_exactly_cap_docs_is_kept(spark, monkeypatch):
    rows = _pairs_both_routes(
        monkeypatch, _shared_shingle_corpus(spark, SHINGLE_DF_CAP)
    )
    assert len(rows) == SHINGLE_DF_CAP * (SHINGLE_DF_CAP - 1) // 2
    assert {r[2:] for r in rows} == {(1, 4, 4)}


def test_group_above_cap_is_dropped(spark, monkeypatch):
    rows = _pairs_both_routes(
        monkeypatch, _shared_shingle_corpus(spark, SHINGLE_DF_CAP + 1)
    )
    assert rows == []


def test_short_doc_adds_no_shingles(spark, monkeypatch):
    from demo_segmenter_spark.operators.layer_c import _shingle_hash_batch

    texts = ["a b", "a b c", "a b c d", "a b"]
    hashes, off = _shingle_hash_batch(texts)
    assert off.tolist() == [0, 0, 1, 3, 3] and len(hashes) == 3
    docs = spark.createDataFrame(
        [(i, t, "en", "web") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string",
    )
    # the two identical 2-token docs share no shingle, hence no pair
    assert _pairs_both_routes(monkeypatch, docs) == [(1, 2, 1, 1, 2)]


def test_minhash_signature_rows_are_independent(spark):
    """Regression guard for the pyspark transform-arity pitfall: with a
    binary lambda the array index clobbers the hash-function index and
    every signature row becomes the SAME function. Independent hash
    functions must produce (nearly) all-distinct minima over a
    many-shingle set."""
    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_c import (
        MINHASH_K,
        _minhash_signature,
    )

    df = spark.range(1).select(
        F.expr("transform(sequence(1, 500), i -> xxhash64(i))").alias("hset")
    )
    sig = df.select(_minhash_signature().alias("sig")).first()["sig"]
    assert len(sig) == MINHASH_K
    # collapsed signatures have exactly 1 distinct value; independent
    # ones collide only by chance (P ~ K^2/2 * 1/500 per pair minima
    # coinciding — allow a little slack, require near-full diversity)
    assert len(set(sig)) >= MINHASH_K - 2, sig


def test_minhash_mixer_family_is_independent():
    """Same independence pin for the HOT-path vectorized mixer family
    (_minhash_band_keys_udf): K splitmix64 functions over a 500-element
    set must produce (nearly) all-distinct minima, and two docs sharing
    no shingles must share no band key."""
    import numpy as np

    from demo_segmenter_spark.operators.layer_c import (
        MINHASH_K,
        _splitmix64,
    )

    rng = np.random.default_rng(11)
    hset = rng.integers(0, 2**63, size=500, dtype=np.int64).view(np.uint64)
    seeds = _splitmix64(np.arange(1, MINHASH_K + 1, dtype=np.uint64))
    mins = np.array([_splitmix64(hset ^ s).min() for s in seeds])
    assert len(np.unique(mins)) >= MINHASH_K - 2, mins


def test_minhash_band_keys_match_disjointness(spark):
    """End-to-end udf sanity: disjoint docs share zero band keys;
    identical docs share all MINHASH_BANDS keys."""
    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_c import (
        MINHASH_BANDS,
        _minhash_band_keys_udf,
    )

    df = spark.createDataFrame(
        [(1, list(range(1, 101))), (2, list(range(1, 101))), (3, list(range(200, 300)))],
        "doc_id long, hset array<long>",
    )
    rows = {
        r["doc_id"]: r["bk"]
        for r in df.select("doc_id", _minhash_band_keys_udf()("hset").alias("bk")).collect()
    }
    assert rows[1] == rows[2] and len(rows[1]) == MINHASH_BANDS
    assert not set(rows[1]) & set(rows[3])


def test_hot_shingle_uncapped_blowup_exists(spark, hot_corpus):
    """Sanity: the hazard the cap removes is real on this corpus."""
    sh = _shingle_table(hot_corpus)
    a, b = sh.alias("a"), sh.alias("b")
    cand = a.join(
        b,
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert cand > 40_000  # 6 boiler shingles * C(120,2) = 42,840 + planted


def test_containment_catches_subset_jaccard_misses(spark):
    # A 12-token doc embedded verbatim in a 120-token doc: containment
    # = 1.0 but Jaccard ≈ 0.08 — below every near-dup threshold. The
    # containment query must flag the pair; the plain jaccard query
    # must NOT (that asymmetry is the whole point of the operator).
    import uuid

    from pyspark.sql import functions as F

    from demo_segmenter_spark.registry import REGISTRY

    short = " ".join(f"tok{i}" for i in range(12))
    long_doc = short + " " + " ".join(f"pad{i}" for i in range(108))
    noise = " ".join(f"other{i}" for i in range(30))
    rows = [
        (0, short, "en", "srcA", len(short)),
        (1, long_doc, "en", "srcA", len(long_doc)),
        (2, noise, "en", "srcA", len(noise)),
    ]
    d = f"/tmp/dss_containment/{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    cont = REGISTRY["c_dedup_containment"].fn(spark, d).collect()
    assert [(r.doc_a, r.doc_b, r.containment) for r in cont] == [(0, 1, 1.0)]
    assert cont[0].jaccard < 0.5

    jac = REGISTRY["c_dedup_ngram"].fn(spark, d).collect()
    assert jac == []  # symmetric near-dup pass is blind to the subset
