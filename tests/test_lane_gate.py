"""The lane gate ``functions/cache.exceeds_cap``: a bare parquet scan is
answered from the files' footers without a Spark job, every other plan
takes the bounded ``limit(cap+1).count()`` probe, and both agree with
``df.count() > cap``. Also guards jobless construction: building the
lane queries of the llm pipeline submits no Spark job, so an eager
collect or probe re-added to their construction fails here."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from demo_segmenter_spark.functions.cache import (
    exceeds_cap,
    release_persisted,
)
from demo_segmenter_spark.plans.inspect import explain_str
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.sources import load_table
from tests.conftest import SF_SMOKE

load_all_operators()


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs submitted while it ran)."""
    st = spark.sparkContext.statusTracker()
    last = max(st.getJobIdsForGroup(None), default=-1)
    out = fn()
    return out, [j for j in st.getJobIdsForGroup(None) if j > last]


def _caps(n):
    return (-1, 0, n - 1, n, n + 1)


def _check(spark, df, want_jobs: bool):
    n = df.count()
    for cap in _caps(n):
        got, jobs = _jobs_during(spark, lambda: exceeds_cap(df, cap))
        assert got == (df.limit(cap + 1).count() > cap) == (n > cap), cap
        if cap >= 0:
            assert bool(jobs) == want_jobs, (cap, jobs)


def test_footer_gate_runs_no_job(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    _check(spark, docs.select("doc_id", "text"), want_jobs=False)
    _check(spark, docs.select(F.col("doc_id") + 1), want_jobs=False)


def test_footer_gate_sums_many_files(spark, tmp_path):
    """Four part files: the running footer sum crosses the cap inside
    the file list, at every file boundary and past the last file."""
    path = str(tmp_path / "parts.parquet")
    spark.range(0, 1000, 1, 4).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 4
    _check(spark, df, want_jobs=False)
    for cap in (249, 250, 251, 500, 999):
        got, jobs = _jobs_during(spark, lambda: exceeds_cap(df, cap))
        assert got == (1000 > cap) and not jobs, cap


@pytest.mark.parametrize("kind", ["filtered", "range", "persisted"])
def test_other_plans_take_the_probe(spark, kind):
    docs = load_table(spark, SF_SMOKE, "documents")
    if kind == "filtered":
        df = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    elif kind == "range":
        df = spark.range(0, 777, 1, 3)
    else:
        df = docs.persist().select("doc_id", "text")
    try:
        _check(spark, df, want_jobs=True)
    finally:
        docs.unpersist()


@pytest.mark.parametrize(
    "name", ["c_token_bpe_encode", "c_embed_pca", "c_dedup_ngram"]
)
def test_lane_construction_submits_no_job(spark, name):
    # the first read of a path infers its schema with a job; warm it
    for t in ("documents", "embeddings"):
        load_table(spark, SF_SMOKE, t)
    df, jobs = _jobs_during(spark, lambda: REGISTRY[name].fn(spark, SF_SMOKE))
    try:
        assert not jobs, (name, jobs)
        assert "MapInPandas" in explain_str(df), name
    finally:
        release_persisted(spark, owner=True)
