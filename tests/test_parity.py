"""Differential tests: every oracled query vs its DuckDB twin at
sf0.001 — the same comparison the driver runs at sf0.01
(row count + schema + order-insensitive canonical values).

This is the pytest counterpart of the reference's golden-output
diffing (main/test-mr.sh:81-111): the oracle result plays the role of
mr-correct-*.txt.
"""

from __future__ import annotations

import pytest

from mapreduce_cs416_spark.plans.registry import EXTRA_QUERIES, QUERIES
from mapreduce_cs416_spark.testing import compare_query

# EXTRA_QUERIES (granular twins of consolidated driver rows) get the
# identical oracle comparison here — moving a query out of the driver
# window must never drop its verification (ADVICE r3).
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}

ORACLED = sorted(name for name, spec in ALL_QUERIES.items() if spec.oracle is not None)
ROWS_ONLY = sorted(name for name, spec in ALL_QUERIES.items() if spec.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = ALL_QUERIES[name]
    ok, msg = compare_query(spark, spec.fn, spec.oracle, sf_dir)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, sf_dir, name):
    """Hash-dependent ops (no SQL twin) must still execute and return
    a stable schema; their quality properties are asserted in the
    dedicated property-test modules."""
    df = ALL_QUERIES[name].fn(spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0


def test_compare_query_frees_the_result(spark, sf_dir):
    """compare_query releases the checkpoints of the frame it built:
    graph_pagerank_fixed's result reads a checkpoint that otherwise
    stays pinned after the rows are collected."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    spec = QUERIES["graph_pagerank_fixed"]
    ok, msg = compare_query(spark, spec.fn, spec.oracle, sf_dir)
    assert ok, msg
    assert set(jsc.getPersistentRDDs().keySet()) <= before
