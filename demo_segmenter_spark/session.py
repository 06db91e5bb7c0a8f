"""SparkSession factory tuned for this engine.

Used by tests and bench.py; the driver's verify passes its own session
into `__spark_entry__.entry`, so nothing here assumes it owns the only
session. Settings are chosen for local[N] testing but are the same ones
we would ship on a 1000-executor cluster (AQE on, Arrow on, UTC):
only `shuffle.partitions` is environment-sized — on a real cluster it
would be ~2-3× total cores or left to AQE's coalescing.

Python workers run under ``demo_segmenter_spark.workerd``
(``spark.python.daemon.module``), which starts ``pyspark.daemon`` with
the JVM-added archives (pyspark.zip, the py4j zip, the spark-core jar)
off ``sys.path``. Every Python task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 each zipimporter
then re-reads its whole archive directory: measured on a 4-core box,
125-284 ms per task alone and 300-450 ms with four tasks at once,
against 0.1-0.2 ms with the archives off the path. The workers import
the installed pyspark the driver uses instead. The daemon module must
be importable by the workers, as the package already is for the UDFs
it pickles by reference. Driver-owned sessions are left as they are;
they opt in with the same conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "demo-segmenter-spark",
    cpus: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(4, int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Early fixture drops encode events.ts as parquet
        # TIMESTAMP(NANOS), which Spark 4 refuses without this legacy
        # flag. Set once at session build so no query ever observes a
        # mid-job conf flip; sources/tables.py keeps an idempotent
        # guard for DRIVER-OWNED sessions this factory never sees.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Semi-join pushdown for selective non-broadcast joins: the
        # build side's keys become a bloom filter applied at the probe
        # side's scan. Irrelevant at local fixture sizes (thresholds
        # keep it off) but the right default for the 100 TB cluster;
        # tests/test_plans.py pins that the rewrite actually fires.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "demo_segmenter_spark.workerd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
