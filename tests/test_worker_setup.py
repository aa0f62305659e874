"""Python worker set-up (``_zipdir``, ``session.get_spark``).

Claims pinned:

1. A reused Python worker keeps pyspark.zip's parsed directory across
   ``importlib.invalidate_caches()``, which every worker invocation
   calls: the archive is not re-read while it is unchanged.
2. A zip archive on ``sys.path`` that is rewritten is re-read on the
   next ``invalidate_caches()``, so a module added to it imports; a
   deleted one is dropped from the cache. Installing twice is a no-op.
3. Workers import the package when the driver found it through
   ``sys.path`` from another working directory (as ``conftest.py`` and
   ``tools/*.py`` do): a native manifest scan returns its row.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from mapreduce_cs416_spark import _zipdir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    def probe(_):
        import importlib
        import zipimport

        import mapreduce_cs416_spark  # noqa: F401 — as every task of the package does

        importlib.invalidate_caches()  # stamps any archive this worker has not read yet
        before = {a: d for a, d in zipimport._zip_directory_cache.items() if a.endswith("pyspark.zip")}
        importlib.invalidate_caches()
        yield [(a, zipimport._zip_directory_cache.get(a) is d) for a, d in before.items()]

    [kept] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert kept, "the worker imported pyspark from no pyspark.zip"
    assert all(same for _, same in kept), kept


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_changed_archive_is_reread_unchanged_one_kept(tmp_path, monkeypatch):
    _zipdir.install()
    patched = zipimport.zipimporter.invalidate_caches
    _zipdir.install()
    assert zipimport.zipimporter.invalidate_caches is patched

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipdir_probe_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zipdir_probe_a", "zipdir_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipdir_probe_a").NAME == "zipdir_probe_a"

    importlib.invalidate_caches()
    kept = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is kept

    _write_zip(archive, ["zipdir_probe_a", "zipdir_probe_b"])
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not kept
    assert importlib.import_module("zipdir_probe_b").NAME == "zipdir_probe_b"

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


_SCAN_FROM_ELSEWHERE = """
import sys
sys.path.insert(0, sys.argv[1])
from mapreduce_cs416_spark.session import get_spark
from mapreduce_cs416_spark.sources import manifest as mf
from mapreduce_cs416_spark.sources.manifest_source import scan

spark = get_spark("worker_setup_probe")
try:
    mf.create_table(spark.range(1).selectExpr("id as k", "'x' as v"), sys.argv[2], ["k"], n_buckets=1)
    print("ROWS", sorted(tuple(r) for r in scan(spark, sys.argv[2]).collect()))
finally:
    spark.stop()
"""


def test_workers_import_package_from_another_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCAN_FROM_ELSEWHERE, REPO, str(tmp_path / "tbl")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [(0, 'x')]" in out.stdout
