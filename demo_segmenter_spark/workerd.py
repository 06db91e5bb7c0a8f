"""Python worker daemon: ``pyspark.daemon`` with the archives the JVM puts
first on the worker path (pyspark.zip, the py4j zip, the spark-core jar)
taken off ``sys.path``, so each task's ``importlib.invalidate_caches()``
has no zipimporter left to re-read (see session.py). The workers import
the installed pyspark and py4j instead; if either cannot be found without
the archives, ``sys.path`` is left as it is. pyspark must not be imported
before the path is fixed, which is why the package ``__init__`` imports
nothing.
"""

import os
import runpy
import sys
from importlib.machinery import PathFinder


def drop_jvm_archives() -> None:
    """Take every jar and the zips under ``$SPARK_HOME/python/lib`` off
    ``sys.path`` and out of ``sys.path_importer_cache``, unless pyspark
    or py4j then goes missing."""
    home = os.environ.get("SPARK_HOME")
    lib = os.path.join(home, "python", "lib") if home else None
    gone = [
        p for p in sys.path
        if p.endswith(".jar") or (lib and p.endswith(".zip") and os.path.dirname(p) == lib)
    ]
    kept = [p for p in sys.path if p not in gone]
    if gone and all(PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")):
        sys.path[:] = kept
        for p in gone:
            sys.path_importer_cache.pop(p, None)


if __name__ == "__main__":
    drop_jvm_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
