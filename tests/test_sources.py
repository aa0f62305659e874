"""Source surfaces: whole-file scans (the reference's A1 input model),
the documents-as-corpus lens, temp-view registration, and the
load_table contract, including its per-file-version schema memo."""

from __future__ import annotations

import os
import shutil

import pytest

from mapreduce_cs416_spark.sources import tables
from mapreduce_cs416_spark.sources.tables import (
    TABLES,
    load_table,
    parquet_schema,
    read_parquet,
    register_views,
)
from mapreduce_cs416_spark.sources.text_corpus import documents_as_corpus, whole_text_files
from mapreduce_cs416_spark.testing import count_jobs


def test_whole_text_files_one_row_per_file(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"pg-{i}.txt").write_text(f"file {i} contents\nline two\n")
    df = whole_text_files(spark, str(tmp_path / "pg-*.txt"))
    rows = {r["filename"].rsplit("/", 1)[-1]: r["contents"] for r in df.collect()}
    assert set(rows) == {"pg-0.txt", "pg-1.txt", "pg-2.txt"}
    assert rows["pg-1.txt"] == "file 1 contents\nline two\n"


def test_documents_as_corpus_shape(spark, sf_dir):
    df = documents_as_corpus(spark, sf_dir)
    assert df.columns == ["filename", "contents"]
    assert dict(df.dtypes) == {"filename": "string", "contents": "string"}
    assert df.count() == load_table(spark, sf_dir, "documents").count()


def test_register_views_sql_access(spark, sf_dir):
    register_views(spark, sf_dir)
    for name in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"] > 0


def test_load_table_rejects_unknown(spark, sf_dir):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, sf_dir, "not_a_table")


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _forget(path: str) -> None:
    tables._SCHEMAS.pop(os.path.abspath(path), None)


@pytest.mark.parametrize("name", TABLES)
def test_memo_hit_read_equals_inferred_read(spark, sf_dir, name):
    """A load_table served from the schema memo plans the same relation
    as one that infers: same schema, same rows, and no job to build."""
    _forget(f"{sf_dir}/{name}.parquet")
    inferred = load_table(spark, sf_dir, name)
    with count_jobs(spark) as jobs:
        hit = load_table(spark, sf_dir, name)
    assert jobs.n == 0
    assert hit.schema == inferred.schema
    assert _rows(hit) == _rows(inferred)


def test_memo_hit_read_of_nanos_events(spark, tmp_path):
    """The legacy events layout (ts as INT64 TIMESTAMP(NANOS), read as a
    long and converted) gives the same frame from the memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_100_000_000_001], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
        str(tmp_path / "events.parquet"),
    )
    inferred = load_table(spark, str(tmp_path), "events")
    with count_jobs(spark) as jobs:
        hit = load_table(spark, str(tmp_path), "events")
    assert jobs.n == 0
    assert dict(hit.dtypes)["ts"] == "timestamp"
    assert hit.schema == inferred.schema
    assert _rows(hit) == _rows(inferred)


def test_second_load_of_unchanged_file_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    with count_jobs(spark) as first:
        load_table(spark, str(tmp_path), "region")
    with count_jobs(spark) as second:
        load_table(spark, str(tmp_path), "region")
    assert (first.n, second.n) == (1, 0)


def test_rewritten_file_shows_new_column(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert _rows(df) == _rows(spark.read.parquet(path))


def test_added_part_file_changes_directory_key(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    before = tables._memo_key(spark, path)
    assert read_parquet(spark, path).count() == 3
    spark.range(3, 5).write.mode("append").parquet(path)
    after = tables._memo_key(spark, path)
    assert after != before
    assert after[0] == before[0]
    assert read_parquet(spark, path).count() == 5


def test_missing_path_raises_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(missing)
    for fn in (read_parquet, parquet_schema):
        with pytest.raises(AnalysisException) as memo:
            fn(spark, missing)
        assert str(memo.value) == str(plain.value)


def test_concurrent_reads_get_their_own_schema(spark, tmp_path):
    """Threads reading distinct and shared paths at once: every read
    gets its own file's schema, and every path ends up memoized."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(6):
        p = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{j}": [j] for j in range(i + 1)}), p)
        paths.append(p)
    errors = []

    def reader(k: int) -> None:
        try:
            for p in paths[k % 3 :] + paths[: k % 3]:
                want = int(os.path.basename(p)[1]) + 1
                if len(read_parquet(spark, p).columns) != want:
                    errors.append(p)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert all(os.path.abspath(p) in tables._SCHEMAS for p in paths)
