"""The benchmark's workloads and the items a pass executes.

A workload is a fixed input point plus a list of items; one pass runs
every item once, in a seeded order. Items are registered queries
(``plans.registry``) and an append stream into the native manifest
sink (``sources.manifest_sink``), run with ``availableNow`` over a
pinned micro-batch feed and read back through the native source
(``sources.manifest_source``).
"""

from __future__ import annotations

import contextlib
import os

import inputs
from mapreduce_cs416_spark import testing
from mapreduce_cs416_spark.plans.registry import ALL_QUERIES
from mapreduce_cs416_spark.sources import manifest as mf
from mapreduce_cs416_spark.sources import manifest_source
from mapreduce_cs416_spark.sources.tables import load_table

SHARDS = 1  # micro-batches per stream run

# name -> (base point, items). The iterative items are job-bound loops
# (the fixpoint driver's side); the ingest items write and maintain
# tables and bypass those loops. Between them every operator and
# source module named in the per-layer metrics runs; items are the
# cheapest registered queries that reach each module, because a run
# must fit JVM start and cold first executions in about a minute.
WORKLOADS = {
    "iterative_sf0.01": (
        "sf0.01",
        ["graph_triangles_lsh", "corpus_bpe_train", "mr_wordcount_compat"],
    ),
    "ingest_sf0.01": (
        "sf0.01",
        ["manifest_sink_append", "ivm_orders_revenue", "dedup_exact", "sketch_heavy_hitters", "text_token_stats"],
    ),
}


def _span(tracer):
    return tracer.span if tracer else (lambda _name: contextlib.nullcontext())


class Query:
    """A registered query: timed as builder + noop sink; checked once
    against its DuckDB oracle through ``testing.compare_query``."""

    kind = "query"

    def __init__(self, name: str):
        self.name = name
        self.spec = ALL_QUERIES[name]
        self.result = None

    def prepare(self, sf_dir: str, data_dir: str, rng) -> dict:
        return {}

    def execute(self, spark, sf_dir: str, out_dir: str, tracer=None) -> list:
        span = _span(tracer)
        with span("plans.build"):
            df = self.spec.fn(spark, sf_dir)
        with span("plans.sink"):
            df.write.format("noop").mode("overwrite").save()
        return []

    def warm(self, spark, sf_dir: str, out_dir: str) -> list:
        """The warm-up execution: collects the rows checked later."""
        df = self.spec.fn(spark, sf_dir)
        self.result = (df.schema, df.collect())
        return []

    def check(self, spark, sf_dir: str) -> tuple[bool, str]:
        schema, rows = self.result
        return testing.compare_query(spark, lambda s, _d: s.createDataFrame(rows, schema), self.spec.oracle, sf_dir)


class ManifestSinkAppend:
    """Seed a manifest table with the orders snapshot, stream the pinned
    append shards into it through ``writeStream.format("manifest")``
    (one put-if-absent version per micro-batch), then read the appended
    key range back through the native source's pruned ``scan``.

    The sink and the source run inside Python data-source workers, out
    of reach of driver-side wrappers, so the traced run times them with
    explicit spans named after their modules."""

    kind = "stream"
    name = "manifest_sink_append"

    def prepare(self, sf_dir: str, data_dir: str, rng) -> dict:
        self.feed = inputs.sink_feed(sf_dir, os.path.join(data_dir, "sink"), rng, SHARDS)
        return {"sink_classes": self.feed["sink_classes"]}

    def _base(self, spark, sf_dir: str):
        return load_table(spark, sf_dir, "orders").selectExpr(*inputs.SINK_COLS.split(", "))

    def execute(self, spark, sf_dir: str, out_dir: str, tracer=None) -> list:
        span = _span(tracer)
        self.table = os.path.join(out_dir, "sink_table")
        base = self._base(spark, sf_dir)
        mf.create_table(base, self.table, ["o_orderkey"])
        manifest_source.register_manifest_source(spark)
        with span("sources.manifest_sink.stream"):
            q = (
                spark.readStream.schema(base.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.feed["sink_dir"])
                .writeStream.format("manifest")
                .option("path", self.table)
                .option("sinkId", "perfbench")
                .option("checkpointLocation", self.table + "_checkpoint")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        with span("sources.manifest_source.read"):
            appended = manifest_source.scan(spark, self.table, predicate=f"o_orderkey > {self.feed['sink_max_key']}")
            appended.write.format("noop").mode("overwrite").save()
        return list(q.recentProgress)

    def warm(self, spark, sf_dir: str, out_dir: str) -> list:
        return self.execute(spark, sf_dir, out_dir)

    def check(self, spark, sf_dir: str) -> tuple[bool, str]:
        """The table read through the native source must equal its batch
        twin: the snapshot plus every shard, as a multiset of rows."""
        def rows(df) -> list[tuple]:
            return sorted(tuple(r) for r in df.collect())

        got = rows(manifest_source.scan(spark, self.table))
        want = rows(self._base(spark, sf_dir).unionByName(spark.read.parquet(self.feed["sink_dir"])))
        return got == want, f"{len(got)} rows vs batch twin {len(want)}"


def items(workload: str) -> list:
    return [ManifestSinkAppend() if n == ManifestSinkAppend.name else Query(n) for n in WORKLOADS[workload][1]]
