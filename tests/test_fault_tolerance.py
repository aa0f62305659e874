"""Task-retry fault tolerance — the Spark analog of the reference's
crash test (mrapps/crash.go + main/test-mr.sh crash section: kill
workers mid-job, assert the output still equals the nocrash golden).

Spark's lineage re-execution owns the recovery; the contract to
assert is that a job whose tasks fail on their first attempt still
produces exactly the clean run's result. Needs `local[N,maxFailures]`
(the shared test session runs maxFailures=1, where any failure kills
the job), so the retry tests run in a subprocess with their own
session. A lost ``localCheckpoint`` block is different: its lineage
is truncated, so the contract there is a clear error, not recovery.
"""

from __future__ import annotations

import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

from mapreduce_cs416_spark.operators import graph
from mapreduce_cs416_spark.operators.checkpoints import free

SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8,3]")  # up to 3 attempts per task
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("crash-test")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext

def flaky(it):
    from pyspark import TaskContext
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected crash (first attempt)")
    yield from it

# map-side crash: every task dies once, retries must re-run the full
# partition exactly once more (no dupes, no loss)
data = sc.parallelize(range(1000), 8)
crashed = sorted(data.mapPartitions(flaky).collect())
assert crashed == list(range(1000)), "map-retry lost or duplicated rows"

# reduce-side crash after a shuffle: the reduce partition re-fetches
# shuffle output and re-reduces; grouped counts must match the clean run
pairs = data.map(lambda i: (i % 50, 1))
clean = sorted(pairs.reduceByKey(lambda a, b: a + b).collect())
crashed2 = sorted(
    pairs.reduceByKey(lambda a, b: a + b)
    .mapPartitions(flaky)
    .collect()
)
assert crashed2 == clean, "reduce-retry diverged from clean run"

print("FAULT_TOLERANCE_OK")
spark.stop()
"""


def test_task_retry_reproduces_clean_output():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "FAULT_TOLERANCE_OK" in out.stdout, out.stderr[-3000:]


_LOOP_HEAD = r"""
import os, sys
sys.path.insert(0, os.getcwd())
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8,3]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("loop-crash-test")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext

def flaky(it):
    from pyspark import TaskContext
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected crash (first attempt)")
    yield from it

# an edge SOURCE whose every task crashes on its first attempt: the
# iterative rounds (joins + localCheckpoint + fixpoint probes) must
# still reach the exact clean result
def edges(pairs, crash=True):
    rdd = sc.parallelize(pairs, 8)
    return spark.createDataFrame(
        rdd.mapPartitions(flaky) if crash else rdd, "doc_a long, doc_b long"
    )

from mapreduce_cs416_spark.operators import graph
"""

CC_SCRIPT = _LOOP_HEAD + r"""
# a 60-node path: several star rounds
path = [(i, i + 1) for i in range(60)]
labels = {r["node"]: r["component"] for r in graph.connected_components(edges(path)).collect()}
assert labels == {i: 0 for i in range(61)}, labels
print("CC_FAULT_TOLERANCE_OK")
spark.stop()
"""

PEEL_RANK_SCRIPT = _LOOP_HEAD + r"""
# a 16-node path ending in a triangle: fifteen peel rounds
g = [(i, i + 1) for i in range(16)] + [(14, 16)]
for run in (
    lambda df: graph.kcore(df),
    lambda df: graph.pagerank_fixed(df, src="doc_a", dst="doc_b"),
):
    crashed = sorted(run(edges(g)).collect())
    assert crashed == sorted(run(edges(g, crash=False)).collect()), crashed
print("PEEL_RANK_FAULT_TOLERANCE_OK")
spark.stop()
"""


def test_connected_components_survives_task_retries():
    """Iterative operators must be as retry-safe as single-pass ones:
    the reference's crash contract (same output as nocrash) applied to
    the round-4 graph operator."""
    out = subprocess.run(
        [sys.executable, "-c", CC_SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "CC_FAULT_TOLERANCE_OK" in out.stdout, out.stderr[-3000:]


def test_kcore_and_pagerank_survive_task_retries():
    """The same crash contract for the other two loops: k-core's peel
    rounds and fixed-point PageRank's power iterations over a crashing
    source equal a clean run."""
    out = subprocess.run(
        [sys.executable, "-c", PEEL_RANK_SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "PEEL_RANK_FAULT_TOLERANCE_OK" in out.stdout, out.stderr[-3000:]


def test_freed_checkpoint_fails_loudly(spark):
    """A lost checkpoint block is a clear error, never silently wrong
    rows: after ``free`` on a k-core result, an action that re-reads
    its checkpoint raises naming the missing block. (Re-collecting
    the same frame can be served from its retained shuffle files, so
    the check runs a different action.)"""
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long")
    core = graph.kcore(df)
    assert sorted(r["node"] for r in core.collect()) == [1, 2, 3]
    free(core)
    with pytest.raises(
        Py4JJavaError, match=r"SparkException: \[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND\]"
    ):
        core.count()
