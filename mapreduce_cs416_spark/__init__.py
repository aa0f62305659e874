"""mapreduce_cs416_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference MapReduce framework
(xuanhieu2611/MapReduce_CS416, read-only at /root/reference/) as an
idiomatic Spark DataFrame/SQL engine, and extends it with the
LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) the north star calls for.

Layout
------
- ``session``    : SparkSession factory tuned for local[N] testing and
                   cluster-scale defaults (AQE, shuffle partitions).
- ``sources``    : table loaders / view registration for the parquet
                   testdata, plus a whole-text-file corpus reader that
                   mirrors the reference's one-file-one-split scan
                   (mr/worker.go:89-95).
- ``functions``  : column-level building blocks (tokenization,
                   vector math, hashing) — all JVM-side built-ins.
- ``operators``  : higher-level operators: the MapReduce compatibility
                   surface (mr/worker.go semantics on RDDs), dedup
                   family, similarity search, text stats, multimodal.
- ``plans``      : named end-to-end queries with DuckDB oracle SQL —
                   the driver-facing correctness surface.
- ``streaming``  : Structured Streaming pipelines mirroring the batch
                   operators.
"""

from . import _zipdir

# every Python worker that runs this package's code imports it here, so
# a reused worker stops re-parsing pyspark.zip on each invocation
_zipdir.install()

__version__ = "0.1.0"
