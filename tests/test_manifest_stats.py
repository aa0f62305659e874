"""Per-bucket min/max stats pins. Every manifest writer takes its stats
from one function, ``manifest._bucket_stats``, over the written rows
in Arrow: batch writes read each bucket's stats columns back with
pyarrow (``_collect_stats``, no Spark job), the streaming sink and its
compaction profile their in-memory tables. Pinned here: (1) committed
stats equal a Spark ``groupBy(_bucket).agg(min, max)`` reference
computed in the test, for every ``_STATS_TYPES`` class; (2) the NaN
mis-prune guard: Spark orders NaN ABOVE every numeric
(``double('NaN') > 5.0`` is true), so a float column holding NaN must
carry no stats, whatever min/max a parquet writer put in its footer;
(3) no Spark job runs for stats, INT96 timestamp files included."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_cs416_spark.sources import manifest as mf
from mapreduce_cs416_spark.testing import count_jobs


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spark_stats(spark, vdir: str) -> dict:
    """The reference the committed stats must equal: one Spark
    aggregate per bucket over every stats-typed column, timestamps as
    ``unix_micros``, dates ISO, NaN-bearing and all-null columns
    dropped, ``{}`` for a bucket with nothing to profile."""
    df = spark.read.parquet(vdir)
    fields = [
        f for f in df.schema.fields
        if f.name != mf._BUCKET_COL and isinstance(f.dataType, mf._STATS_TYPES)
    ]
    out = {
        leaf.split("=", 1)[1]: {}
        for leaf in os.listdir(vdir)
        if leaf.startswith(f"{mf._BUCKET_COL}=")
    }
    if not fields:
        return out
    aggs = []
    for f in fields:
        e = F.unix_micros(f.name) if isinstance(f.dataType, T.TimestampType) else F.col(f.name)
        aggs += [F.min(e).alias(f"mn_{f.name}"), F.max(e).alias(f"mx_{f.name}")]
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            aggs.append(F.max(F.isnan(f.name).cast("int")).alias(f"nan_{f.name}"))
    for r in df.groupBy(mf._BUCKET_COL).agg(*aggs).collect():
        ent = out[str(r[mf._BUCKET_COL])]
        for f in fields:
            mn, mx = r[f"mn_{f.name}"], r[f"mx_{f.name}"]
            if mn is None or r.asDict().get(f"nan_{f.name}"):
                continue
            if isinstance(f.dataType, T.DateType):
                mn, mx = mn.isoformat(), mx.isoformat()
            ent[f.name] = [mn, mx]
    return out


@pytest.fixture()
def typed_table(spark, tmp_path):
    """A manifest table covering every _STATS_TYPES class: byte, short,
    int, long, float, double, string, date, timestamp."""
    path = str(tmp_path / "typed_tbl")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 100 - 50).cast("byte").alias("b"),
        (F.col("id") * 7 - 600).cast("short").alias("sh"),
        (F.col("id") * 1000 - 3).cast("int").alias("i"),
        (F.col("id") * 0.1).cast("float").alias("f"),
        (F.col("id") * 1.5 - 10.0).alias("x"),
        F.concat(F.lit("val-"), F.format_string("%03d", F.col("id"))).alias("s"),
        F.date_add(F.lit("2030-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(1_900_000_000 + F.col("id") * 3600).alias("ts"),
    )
    mf.create_table(df, path, ["k"], n_buckets=4)
    return path


def test_footer_stats_equal_scan_stats(spark, typed_table):
    """Committed stats equal the Spark aggregate value-for-value on
    every column class, so pruning decisions match the row filter's
    view of the data."""
    m = mf.read_manifest(typed_table)
    (rel,) = m["stats"].keys()
    assert m["stats"][rel] == _spark_stats(spark, os.path.join(typed_table, rel))
    for ent in m["stats"][rel].values():
        assert set(ent) == {"k", "b", "sh", "i", "f", "x", "s", "d", "ts"}
        # timestamps persist as UTC micros ints, dates as ISO strings
        assert isinstance(ent["ts"][0], int)
        assert isinstance(ent["d"][0], str)


def test_footer_equals_scan_without_stats_columns(spark, tmp_path):
    """A table with no _STATS_TYPES column (decimal key, array value):
    every bucket gets an empty entry, and pruning still reads every
    row."""
    path = str(tmp_path / "unstat_tbl")
    df = spark.range(0, 40).select(
        F.col("id").cast("decimal(12,2)").alias("k"),
        F.array(F.col("id"), F.col("id") * 2).alias("v"),
    )
    mf.create_table(df, path, ["k"], n_buckets=4)
    m = mf.read_manifest(path)
    (rel,) = m["stats"].keys()
    ent = m["stats"][rel]
    assert ent == _spark_stats(spark, os.path.join(path, rel))
    assert ent and all(e == {} for e in ent.values())
    assert mf.read_table(spark, path, predicate="k > 30").count() == 9


def test_footer_stats_prune_and_reread_row_identical(spark, typed_table):
    """Range predicates over the stats prune directories without
    changing results (the read contract: prune is IO-only)."""
    full = mf.read_table(spark, typed_table)
    for pred in (
        "k = 7", "x > 200.0", "s <= 'val-010'", "f < 1.0", "sh >= 500",
        "ts >= timestamp'2030-03-01 00:00:00'", "d < date'2030-01-05'",
    ):
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


def test_nan_detected_from_data_not_footer(spark, tmp_path):
    """A pyarrow-written leaf holding NaN carries FINITE footer stats
    (pyarrow skips NaN when computing them), so a footer-based NaN
    check would persist [1.5, 2.5] and an ``x > 100.0`` prune would
    drop the NaN row Spark's filter keeps. The stats must come from
    the data."""
    path = str(tmp_path / "pq_nan")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    mf.create_table(
        spark.createDataFrame([(1, 1.5), (2, 2.0), (3, 2.5)], schema),
        path, ["k"], n_buckets=1,
    )
    m = mf.read_manifest(path)
    (rel,) = m["stats"].keys()
    leaf = os.path.join(path, rel, f"{mf._BUCKET_COL}=0")
    for fn in os.listdir(leaf):
        os.remove(os.path.join(leaf, fn))
    part = os.path.join(leaf, "part-0.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "x": [1.5, float("nan"), 2.5]}),
        part,
    )
    footer = pq.read_metadata(part).row_group(0).column(1).statistics
    assert (footer.min, footer.max) == (1.5, 2.5)  # the premise

    st = mf._collect_stats(path, rel, schema)
    assert st == {"0": {"k": [1, 3]}}
    mf._commit(path, {**m, "version": m["version"] + 1, "stats": {rel: st}})
    # Spark's parquet filter pushdown trusts that same footer and skips
    # the row group itself, so read with it off: what is left to drop
    # the NaN row is the manifest's own prune
    key = "spark.sql.parquet.filterPushdown"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = mf.read_table(spark, path, predicate="x > 100.0").collect()
    finally:
        spark.conf.set(key, old)
    assert [r["k"] for r in got] == [2]


def test_int96_timestamp_stats_run_no_spark_job(spark, tmp_path):
    """A session writing INT96 timestamps (pyarrow reads them back as
    nanoseconds, with no footer stats): stats still come from the
    data with no Spark job, equal ``unix_micros`` min/max per bucket,
    and a timestamp range prune returns exactly the filter's rows."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        path = str(tmp_path / "int96_tbl")
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(1_900_000_000 + F.col("id") * 3600).alias("ts"),
        )
        mf.create_table(df, path, ["k"], n_buckets=4)
    finally:
        spark.conf.set(key, old)
    m = mf.read_manifest(path)
    (rel,) = m["stats"].keys()
    vdir = os.path.join(path, rel)
    leaf = next(d for d in os.listdir(vdir) if d.startswith(f"{mf._BUCKET_COL}="))
    fn = next(f for f in os.listdir(os.path.join(vdir, leaf)) if f.endswith(".parquet"))
    assert pq.read_schema(os.path.join(vdir, leaf, fn)).field("ts").type == pa.timestamp("ns")

    with count_jobs(spark) as jobs:
        st = mf._collect_stats(path, rel, df.schema)
    assert jobs.n == 0
    assert st == m["stats"][rel] == _spark_stats(spark, vdir)
    assert all("ts" in ent for ent in st.values())

    full = mf.read_table(spark, path)
    for pred in (
        "ts >= timestamp'2030-03-19 00:00:00'",
        "ts < timestamp'2030-03-17 20:00:00'",
    ):
        got = _sorted_rows(mf.read_table(spark, path, predicate=pred))
        assert got == _sorted_rows(full.filter(pred)), pred
        assert got


def test_footer_matches_scan_on_orders_merge(spark, sf_dir, tmp_path):
    """End-to-end on the real fixture: after a create + merge, every
    committed stats rel equals the Spark reference, so pruning sees
    exactly the data's bounds."""
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
        assert ent == _spark_stats(spark, os.path.join(path, rel)), rel


def test_bucket_stats_drop_nan_and_null():
    """The one stats function on in-memory Arrow (the streaming sink's
    input): NaN-bearing and all-null columns get no entry, columns
    outside _STATS_TYPES are skipped, timestamps become UTC micros
    from any unit, dates ISO strings."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("f", T.FloatType()),
            T.StructField("n", T.StringType()),
            T.StructField("dec", T.DecimalType(12, 2)),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    utc = dt.timezone.utc
    tbl = pa.table(
        {
            "k": [1, 2],
            "x": [1.5, float("nan")],
            "f": pa.array([0.5, None], pa.float32()),
            "n": pa.array([None, None], pa.string()),
            "dec": pa.array([1, 2], pa.decimal128(12, 2)),
            "d": [dt.date(2030, 1, 2), dt.date(2030, 1, 1)],
            "ts": pa.array(
                [dt.datetime(2030, 1, 1, tzinfo=utc), dt.datetime(2030, 1, 1, 0, 0, 1, tzinfo=utc)],
                pa.timestamp("ns", tz="UTC"),
            ),
        }
    )
    us = int(dt.datetime(2030, 1, 1, tzinfo=utc).timestamp()) * 1_000_000
    assert mf._bucket_stats(tbl, schema) == {
        "k": [1, 2],
        "f": [0.5, 0.5],
        "d": ["2030-01-01", "2030-01-02"],
        "ts": [us, us + 1_000_000],
    }
    clean = tbl.set_column(1, "x", pa.array([1.5, 2.5]))
    assert mf._bucket_stats(clean, schema)["x"] == [1.5, 2.5]


def test_no_stats_columns_shape_matches_across_writers(spark, tmp_path):
    """Batch writes, sink writes and the sink's auto-compaction give a
    bucket with no stats column the same ``{}`` entry."""
    from mapreduce_cs416_spark.sources.manifest_sink import ManifestStreamWriter

    path = str(tmp_path / "bool_tbl")
    schema = T.StructType(
        [T.StructField("k", T.BooleanType()), T.StructField("v", T.BooleanType())]
    )
    mf.create_table(
        spark.createDataFrame([(True, False)], schema), path, ["k"],
        n_buckets=1, properties={"maintain.max_fragments": 2},
    )
    assert list(mf.read_manifest(path)["stats"].values()) == [{"0": {}}]
    tbl = pa.table({"k": [True], "v": [True]})
    w = ManifestStreamWriter({"path": path, "sinkId": "s", "autoMaintain": "true"}, schema)
    msg = w.write(iter(tbl.to_batches()))
    assert msg.stats == {"0": {}}
    w.commit([msg], batchId=0)  # two fragments: at the threshold, no fold
    assert mf.read_manifest(path)["stats"][msg.rel] == {"0": {}}
    w.commit([w.write(iter(tbl.to_batches()))], batchId=1)  # three: fold
    m = mf.read_manifest(path)
    assert mf.history(path)[-1]["op"] == "auto_compact"
    (rel,) = m["buckets"]["0"]
    assert m["stats"] == {rel: {"0": {}}}


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


def test_sink_nan_rows_survive_parquet_pushdown(spark, tmp_path):
    """Files the sink and its auto-compaction write carry no footer
    statistics for float columns: pyarrow's footer min/max skip NaN,
    and Spark's parquet filter pushdown (on here) would trust them and
    drop the NaN row the filter keeps. Other columns keep theirs."""
    from mapreduce_cs416_spark.sources.manifest_sink import ManifestStreamWriter

    path = str(tmp_path / "sink_nan")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    mf.create_table(
        spark.createDataFrame([(0, 0.5)], schema), path, ["k"],
        n_buckets=1, properties={"maintain.max_fragments": 2},
    )
    batch = pa.table(
        {"k": pa.array([1, 2, 3], pa.int64()), "x": [1.5, float("nan"), 2.5]}
    )
    w = ManifestStreamWriter({"path": path, "sinkId": "s", "autoMaintain": "true"}, schema)
    key = "spark.sql.parquet.filterPushdown"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        msg = w.write(iter(batch.to_batches()))
        w.commit([msg], batchId=0)
        got = mf.read_table(spark, path, predicate="x > 100.0").collect()
        assert [r["k"] for r in got] == [2]
        leaf = os.path.join(path, msg.rel, f"{mf._BUCKET_COL}=0")
        (fn,) = os.listdir(leaf)
        rg = pq.read_metadata(os.path.join(leaf, fn)).row_group(0)
        assert rg.column(0).statistics.has_min_max
        assert rg.column(1).statistics is None
        w.commit([w.write(iter(batch.to_batches()))], batchId=1)  # fold
        assert mf.history(path)[-1]["op"] == "auto_compact"
        got = mf.read_table(spark, path, predicate="x > 100.0").collect()
        assert [r["k"] for r in got] == [2, 2]
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("mode", ["copy-on-write", "dv"])
def test_delete_targets_prune_timestamp_range_in_session_tz(spark, tmp_path, mode):
    """A delete's target set comes from the same pruning as a read,
    timestamp literals resolved under the session timezone: a range
    on an hourly ``ts`` column touches the one ``floor(k / 64)``
    bucket a read of the same predicate scans, not all eight, and the
    delete removes exactly the predicate's rows."""
    path = str(tmp_path / "ts_range_tbl")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    mf.create_table(df, path, ["k"], partition_expr="floor(k / 64)")
    pred = "ts >= '1970-01-20 00:00:00'"
    man = mf.read_manifest(path)
    assert len(man["buckets"]) == 8
    read_dirs = mf.resolve_read_dirs(spark, path, pred)
    targets = mf._delete_targets(spark, path, man, pred)
    assert len(read_dirs) == 1
    assert sorted(
        os.path.join(path, r, f"{mf._BUCKET_COL}={b}")
        for b, rels in targets.items()
        for r in rels
    ) == sorted(read_dirs)

    full = mf.read_table(spark, path)
    expect = _sorted_rows(full.filter(f"NOT ({pred})"))
    assert len(expect) == 456
    mf.delete_from(spark, path, pred, mode=mode)
    assert _sorted_rows(mf.read_table(spark, path)) == expect
    after = mf.read_manifest(path)
    # the buckets the predicate cannot touch keep their directories
    for b in range(7):
        assert after["buckets"][str(b)] == man["buckets"][str(b)], b
