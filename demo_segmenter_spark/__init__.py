"""demo_segmenter_spark — a PySpark-native analytics engine with the
capabilities of `andreas-schroeder/demo-segmenter` (a Kafka Streams
sessionization demo; see SURVEY.md §0 for provenance rules — the
reference tree is empty in this environment, so semantics derive from
the driver contract in BASELINE.json / __spark_entry__.py and public
Kafka Streams API knowledge).

Layout:
  session.py    — SparkSession builder (AQE, Arrow, UTC, tuned shuffle)
  sources/      — parquet table loaders for the sf_dir layout
  operators/    — query inventory (Layer A stream ops, Layer B relational,
                  Layer C LLM-data-pipeline), registered into `registry`
  functions/    — reusable column expressions (vector math, text, hashing)
  streaming/    — Structured Streaming twins (session_window, watermark)
  plans/        — plan-inspection helpers (pushdown/broadcast assertions)
  workerd.py    — the Python worker daemon get_spark selects

Imports nothing: ``python -m demo_segmenter_spark.workerd`` runs this
file before it has taken the JVM-added archives off ``sys.path``, and
pyspark imported here would come from pyspark.zip. Import the registry
from ``demo_segmenter_spark.registry``.
"""
