"""SparkSession factory tuned for this engine.

Used by tests and bench.py; the driver's verify passes its own session
into `__spark_entry__.entry`, so nothing here assumes it owns the only
session. Settings are chosen for local[N] testing but are the same ones
we would ship on a 1000-executor cluster (AQE on, Arrow on, UTC):
only `shuffle.partitions` is environment-sized — on a real cluster it
would be ~2-3× total cores or left to AQE's coalescing.

Every Python process a get_spark session starts (the worker daemon,
the Python data-source planners, the streaming source runner) runs
through ``launcher.sh``, set as ``sparkContext.pythonExec``, which
pyspark reads whenever it wraps a function or DataSource. The launcher
puts the package root first on ``PYTHONPATH``, so workers import the
package from any cwd, and drops the archives the JVM puts first
(pyspark.zip, the py4j zip, the spark-core jar). With them on the path,
each task's ``importlib.invalidate_caches()`` makes every zipimporter
re-read its archive (125-450 ms per task on a 4-core box, against
0.1-0.2 ms), and each stream start imports pyspark from the zip
(1.4-1.6 s, against 0.27-0.36 s from site-packages). If the driver
cannot find pyspark and py4j without the archives, pythonExec is left
as it is. Driver-owned sessions opt in with
``spark.sparkContext.pythonExec = LAUNCHER``.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

LAUNCHER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "launcher.sh")


def resolves_without_archives() -> bool:
    """Whether pyspark and py4j resolve on ``sys.path`` with every jar
    and the zips under ``$SPARK_HOME/python/lib`` taken off, as
    ``launcher.sh`` takes them off the workers' path."""
    home = os.environ.get("SPARK_HOME")
    lib = os.path.join(home, "python", "lib") if home else None
    kept = [
        p for p in sys.path
        if not (p.endswith(".jar") or (lib and p.endswith(".zip") and os.path.dirname(p) == lib))
    ]
    return all(PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j"))


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
    )
    spark = builder.getOrCreate()
    if resolves_without_archives():
        spark.sparkContext.pythonExec = LAUNCHER
    spark.sparkContext.setLogLevel("WARN")
    return spark
