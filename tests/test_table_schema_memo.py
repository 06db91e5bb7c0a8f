"""``load_table`` reads parquet through ``sources.tables._read_parquet``,
which keeps the schema Spark inferred on a path's first read, so later
loads launch no schema-inference job. A load through the memo gives the
same schema and plan as a fresh ``spark.read.parquet``; a file rewritten
with another schema, or a flipped inference conf, is inferred again."""

from __future__ import annotations

import os
import re
import uuid

from demo_segmenter_spark.plans.inspect import explain_str
from demo_segmenter_spark.sources import load_table
from demo_segmenter_spark.sources import tables
from tests.conftest import SF_SMOKE

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _plan(df) -> str:
    """explain_str with the expression ids (``#17``) blanked."""
    return re.sub(r"#\d+L?", "#", explain_str(df))


def _jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup("memo"))


def test_second_load_launches_no_job(spark):
    sc = spark.sparkContext
    path = f"{SF_SMOKE}/orders.parquet"
    tables._SCHEMAS.pop(path, None)
    sc.setJobGroup("memo", "load_table schema memo")
    try:
        first = _jobs(spark)
        load_table(spark, SF_SMOKE, "orders")
        before = _jobs(spark)
        assert before - first  # the first load infers, with a job
        df = load_table(spark, SF_SMOKE, "orders")
        assert _jobs(spark) == before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    fresh = spark.read.parquet(path)
    assert df.schema == fresh.schema
    assert _plan(df) == _plan(fresh)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / uuid.uuid4().hex[:8])
    os.makedirs(d)
    path = f"{d}/region.parquet"
    pq.write_table(pa.table({"r_regionkey": [1, 2]}), path)
    assert load_table(spark, d, "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_name": ["x"], "r_extra": [1.5]}), path)
    df = load_table(spark, d, "region")
    assert df.columns == ["r_name", "r_extra"]
    assert df.collect()[0].r_extra == 1.5


def test_nanos_flag_changes_the_key(spark):
    path = f"{SF_SMOKE}/orders.parquet"
    old = spark.conf.get(NANOS, "false")
    try:
        spark.conf.set(NANOS, "true")
        on = tables._schema_key(spark, path)
        spark.conf.set(NANOS, "false")
        off = tables._schema_key(spark, path)
    finally:
        spark.conf.set(NANOS, old)
    assert on is not None and off is not None and on != off
