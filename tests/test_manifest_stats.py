"""r15 stats pins: (1) the footer-walk ``_collect_stats`` produces
byte-identical stats to the Spark-scan baseline it replaced (guide §6
— the post-write re-scan was a measured fixed cost per
manifest-writing query), and (2) the NaN mis-prune guard: Spark
orders NaN ABOVE every numeric (``double('NaN') > 5.0`` is true), so
a NaN-poisoned max — which Python-compares False against everything —
must never be persisted where ``_stats_keep`` would use it to drop a
directory whose NaN rows the row filter keeps."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_cs416_spark.sources import manifest as mf


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def typed_table(spark, tmp_path):
    """A manifest table covering every _STATS_TYPES class: int, double,
    string, date, timestamp."""
    path = str(tmp_path / "typed_tbl")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 - 10.0).alias("x"),
        F.concat(F.lit("val-"), F.format_string("%03d", F.col("id"))).alias("s"),
        F.date_add(F.lit("2030-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(1_900_000_000 + F.col("id") * 3600).alias("ts"),
    )
    mf.create_table(df, path, ["k"], n_buckets=4)
    return path


def test_footer_stats_equal_scan_stats(spark, typed_table):
    """The footer walk and the Spark scan must agree value-for-value
    on every column class — the equivalence that lets the footer path
    replace the scan without changing any pruning decision."""
    m = mf.read_manifest(typed_table)
    (rel,) = m["stats"].keys()
    footer = mf._collect_stats_footers(f"{typed_table}/{rel}")
    import os

    scan = mf._collect_stats_scan(spark, os.path.join(typed_table, rel))
    assert footer == scan
    # and the committed manifest carries exactly these stats
    assert m["stats"][rel] == footer
    # every class present for every bucket
    for ent in footer.values():
        assert set(ent) == {"k", "x", "s", "d", "ts"}
        # timestamps persist as UTC micros ints, dates as ISO strings
        assert isinstance(ent["ts"][0], int)
        assert isinstance(ent["d"][0], str)


def test_footer_equals_scan_without_stats_columns(spark, tmp_path):
    """A table with no _STATS_TYPES column (decimal key, array value):
    the footer walk and the scan both give every bucket an empty entry,
    and pruning still reads every row."""
    import os

    path = str(tmp_path / "unstat_tbl")
    df = spark.range(0, 40).select(
        F.col("id").cast("decimal(12,2)").alias("k"),
        F.array(F.col("id"), F.col("id") * 2).alias("v"),
    )
    mf.create_table(df, path, ["k"], n_buckets=4)
    m = mf.read_manifest(path)
    (rel,) = m["stats"].keys()
    footer = mf._collect_stats_footers(os.path.join(path, rel))
    scan = mf._collect_stats_scan(spark, os.path.join(path, rel))
    assert footer == scan
    assert footer and all(ent == {} for ent in footer.values())
    assert m["stats"][rel] == footer
    assert mf.read_table(spark, path, predicate="k > 30").count() == 9


def test_footer_stats_prune_and_reread_row_identical(spark, typed_table):
    """Range predicates over footer stats prune directories without
    changing results (the read contract: prune is IO-only)."""
    full = mf.read_table(spark, typed_table)
    for pred in ("k = 7", "x > 200.0", "s <= 'val-010'", "ts >= timestamp'2030-03-01 00:00:00'"):
        pruned = mf.read_table(spark, typed_table, predicate=pred)
        expected = _sorted_rows(full.filter(pred))
        assert _sorted_rows(pruned) == expected, pred


def test_nan_rows_survive_range_prune(spark, tmp_path):
    """Regression (r15): a double column containing NaN must not be
    pruned by min/max stats — Spark's filter keeps NaN under
    ``x > lit`` (NaN orders above every numeric), while a persisted
    NaN max Python-compares False and used to drop the directory."""
    path = str(tmp_path / "nan_tbl")
    rows = [(1, 1.5), (2, float("nan")), (3, 2.5), (4, float("nan"))]
    df = spark.createDataFrame(rows, "k long, x double")
    mf.create_table(df, path, ["k"], n_buckets=1)
    m = mf.read_manifest(path)
    (rel,) = m["stats"].keys()
    # the NaN-poisoned column carries NO stats entry in its bucket
    # (buckets without NaN rows keep theirs — the guard is per-bucket)
    for ent in m["stats"][rel].values():
        assert "x" not in ent
        assert "k" in ent
    got = mf.read_table(spark, path, predicate="x > 100.0").collect()
    assert sorted(r["k"] for r in got) == [2, 4]
    # equality predicates over the finite values survive too
    got = mf.read_table(spark, path, predicate="x = 1.5").collect()
    assert [r["k"] for r in got] == [1]


def test_scan_fallback_drops_nan_stats(spark, tmp_path):
    """The Spark-scan fallback applies the same NaN guard."""
    path = str(tmp_path / "nan_scan")
    df = spark.createDataFrame([(1, 1.5), (2, float("nan"))], "k long, x double")
    df = df.withColumn(mf._BUCKET_COL, F.lit(0))
    (
        df.write.mode("overwrite").partitionBy(mf._BUCKET_COL).parquet(f"{path}/v")
    )
    ent = mf._collect_stats_scan(spark, f"{path}/v")
    assert "x" not in ent["0"]
    assert ent["0"]["k"] == [1, 2]


def test_footer_matches_scan_on_orders_merge(spark, sf_dir, tmp_path):
    """End-to-end on the real fixture: after a create + merge, every
    committed stats rel equals the scan baseline (both versions'
    directories), so the pruning behavior is unchanged by the footer
    path."""
    import os

    from mapreduce_cs416_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_tbl")
    mf.create_table(orders, path, ["o_orderkey"], n_buckets=4)
    changes = (
        orders.limit(20)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    mf.merge_into(spark, path, changes, op_col="op", seq_col="seq")
    m = mf.read_manifest(path)
    assert m["stats"]  # the merge rel (and any still-live seed rel)
    for rel, ent in m["stats"].items():
        if not ent:
            continue
        assert ent == mf._collect_stats_scan(spark, os.path.join(path, rel)), rel


def test_sink_arrow_stats_drop_nan(spark):
    """manifest_sink's executor-side stats apply the same NaN guard."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from mapreduce_cs416_spark.sources.manifest_sink import _arrow_stats

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    tbl = pa.table({"k": [1, 2], "x": [1.5, float("nan")]})
    ent = _arrow_stats(tbl, schema)
    assert "x" not in ent
    assert ent["k"] == [1, 2]
    clean = pa.table({"k": [1, 2], "x": [1.5, 2.5]})
    ent = _arrow_stats(clean, schema)
    assert ent["x"] == [1.5, 2.5]


def test_all_nan_column_keeps_directory(spark, tmp_path):
    """All-NaN double column: no stats, every directory kept, rows
    returned by the NaN-matching range filter."""
    path = str(tmp_path / "all_nan")
    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("nan"))], "k long, x double"
    )
    mf.create_table(df, path, ["k"], n_buckets=1)
    got = mf.read_table(spark, path, predicate="x >= 0.0").collect()
    assert sorted(r["k"] for r in got) == [1, 2]


def test_math_isnan_guard_shape():
    """The mn != mn NaN detector used across the stats paths is the
    plain IEEE self-inequality — pin it so a refactor to math.isnan
    (which raises on non-floats) keeps the same semantics."""
    assert float("nan") != float("nan")
    assert not math.isnan(1.5)
