"""MapReduce compatibility surface.

Runs arbitrary user ``map(key, value) -> [(k, v), ...]`` and
``reduce(key, values) -> value`` callables with the reference
framework's exact semantics (SURVEY.md §2.A / §3.3):

- map is a flatMap over (filename, contents) records
  (mr/worker.go:95; plugin type main/mrworker.go:32-41);
- records are hash-partitioned by key into ``n_partitions`` reduce
  buckets (mr/worker.go:37-41, 97-103) — here Spark's shuffle
  partitioner; the tests only ever compare the *sorted union* of
  outputs (main/test-mr.sh:103-111), so FNV routing is a physical
  detail we do not replicate;
- reduce sees the full list of values for one key, in unspecified
  order (mr/worker.go:164-177) — groupByKey, not combineByKey,
  because the reference reduce is a holistic full-group function;
- output is formatted "%v %v" per key (mr/worker.go:175) by
  ``mr_output_lines``; atomic commit is Spark's task-commit protocol
  (reference: temp file + rename, mr/worker.go:119-121).

Everything else in the reference's A-layer (scheduling A9, straggler
re-issue A10, heartbeats A11, teardown A12, RPC A13) is supplied by
the Spark runtime and is deliberately absent here.

Scale note: this is the *compat* path (Python callables on RDDs —
row-at-a-time, pickled). The idiomatic queries in ``plans/`` express
the same semantics as DataFrame built-ins; use those for anything
performance-sensitive.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

_KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)


def run_mapreduce(
    records: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
    n_partitions: int = 10,
) -> DataFrame:
    """Execute one MapReduce job over (filename, contents) records.

    ``records`` must have two string columns (filename, contents) —
    the shape of the reference's map input (mr/worker.go:95).
    Returns a DataFrame(key string, value string), one row per
    distinct key — the shape of mr-out-* files (mr/worker.go:175).

    nReduce is the reference's fixed 10 (main/mrcoordinator.go:23);
    semantically only the grouped result matters.
    """
    spark = records.sparkSession
    rdd = records.rdd.map(tuple)
    reduced = (
        rdd.flatMap(lambda fc: mapf(fc[0], fc[1]))  # A2: user map as flatMap
        .groupByKey(numPartitions=n_partitions)  # A3+A5-A7: shuffle + group
        .map(lambda kv: (kv[0], reducef(kv[0], list(kv[1]))))  # A7: holistic reduce
    )
    return spark.createDataFrame(reduced, _KV_SCHEMA)


def mr_output_lines(result: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """Format a grouped result the way the reference writes mr-out files:
    one text line per key, "%v %v" (mr/worker.go:175; rule README.md:195).

    The logical job result is the sorted union of partitions
    (README.md:119-127) — callers compare after orderBy.
    """
    return result.select(
        F.format_string("%s %s", F.col(key).cast("string"), F.col(value).cast("string")).alias("line")
    )


def write_mr_output(result: DataFrame, path: str, n_partitions: int = 10) -> None:
    """Materialize like the reference sink: n text partitions, atomic commit
    (mr/worker.go:159-181 → Spark's FileOutputCommitter)."""
    mr_output_lines(result).repartition(n_partitions).write.mode("overwrite").text(path)
