"""Differential-testing helpers: run a query on Spark and its oracle
SQL on DuckDB over the same parquet, canonicalize, and diff.

Mirrors the driver's comparison (row count + schema + order-
insensitive value hash): columns sorted by name, rows sorted, values
normalized to strings. Floats are compared exactly — the engine's
determinism rules (decimal sums, sequential folds, explicit rounding)
are supposed to make Spark and DuckDB bit-identical; any drift is a
bug we want to see, not paper over.

``count_jobs`` turns a per-query Spark job budget into one assertion.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from .operators.checkpoints import free
from .sources.tables import TABLES


class JobCount:
    """Spark jobs submitted inside a ``count_jobs`` block (``n`` is set
    when the block exits)."""

    n: int | None = None


@contextmanager
def count_jobs(spark: SparkSession) -> Iterator[JobCount]:
    """Count the Spark jobs submitted inside the block, from the DAG
    scheduler's job-id counter, so a job budget is one assertion::

        with count_jobs(spark) as jobs:
            df.collect()
        assert jobs.n <= 4

    Jobs from other threads of the same session count too."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    out = JobCount()
    start = dag.nextJobId()
    try:
        yield out
    finally:
        out.n = dag.nextJobId() - start


def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (_dt.datetime,)):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def spark_rows(df: DataFrame) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def duckdb_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return cols, rows


def compare_query(
    spark: SparkSession, fn, oracle: str, sf_dir: str, max_diff: int = 5
) -> tuple[bool, str]:
    """Returns (ok, message). Message carries a compact diff on failure.
    The query's frame is freed (``checkpoints.free``) once collected,
    so its checkpoints do not stay pinned in a long-lived session."""
    df = fn(spark, sf_dir)
    s_cols, s_rows = spark_rows(df)
    free(df)
    con = duckdb_connect(sf_dir)
    try:
        o_cols, o_rows = duckdb_rows(con, oracle)
    finally:
        con.close()
    if sorted(s_cols) != sorted(o_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    sc = _canon_rows(s_cols, s_rows)
    oc = _canon_rows(o_cols, o_rows)
    if sc == oc:
        return True, f"ok ({len(s_rows)} rows)"
    diffs = []
    for a, b in zip(sc, oc):
        if a != b:
            diffs.append(f"  spark={a}\n  oracle={b}")
            if len(diffs) >= max_diff:
                break
    only_s = [r for r in sc if r not in set(oc)][:max_diff]
    only_o = [r for r in oc if r not in set(sc)][:max_diff]
    return False, (
        f"value mismatch ({len(s_rows)} rows); first aligned diffs:\n"
        + "\n".join(diffs)
        + f"\nonly-in-spark: {only_s}\nonly-in-oracle: {only_o}"
    )
