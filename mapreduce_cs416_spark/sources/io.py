"""Generic source/sink surface (SURVEY.md §2.C scans/sinks).

The reference reads whole text files and writes '%v %v' text partitions
(mr/worker.go:89-95, 159-181); this engine generalizes both directions
to the standard columnar/row formats. Everything is the plain
DataFrameReader/Writer API — the value of this module is the contract:
one place that fixes the options (headers, compression, line-delimited
JSON) so every pipeline round-trips identically.

Parquet is the scale default (columnar, predicate pushdown, splittable
row groups); ORC is the columnar alternative with the same pushdown
properties; CSV/JSON are interchange formats — documented as such, not
as scan paths for 100 TB jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .tables import read_parquet

FORMATS = ("parquet", "orc", "csv", "json", "text")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    n_partitions: int | None = None,
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """``partition_by`` lays the data out hive-style (one directory per
    value) so reads with a filter on those columns prune whole
    directories before any IO — the first lever for 100 TB scans.
    ``compression`` picks the codec (parquet/orc default snappy;
    zstd trades ~2× better ratio for CPU — the usual archival choice;
    gzip for interchange CSV/JSON)."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; known: {FORMATS}")
    if n_partitions is not None:
        df = df.repartition(n_partitions)
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true")
    if compression is not None:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: StructType | str | None = None
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; known: {FORMATS}")
    if fmt == "parquet" and schema is None:
        return read_parquet(spark, path)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        # schema-first (exact round-trip); inference only as fallback
        r = r.option("header", "true")
        if schema is None:
            r = r.option("inferSchema", "true")
    return r.format(fmt).load(path)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    options: dict[str, str] | None = None,
) -> None:
    """Layout-optimizing parquet sink: hive partitioning for
    directory pruning + within-file clustering for row-group pruning.

    The two levers a 100 TB table lives or dies by:

    1. ``repartition(partition_by)`` routes all rows of one hive
       directory to ONE task, so each directory gets one file instead
       of one-per-task (the small-file explosion that otherwise turns
       a 1000-task write into 1000 × |dirs| files). For a partition
       too large for one task, append a low-cardinality salt column
       to ``partition_by`` on the repartition side only.
    2. ``sortWithinPartitions(partition_by + cluster_by)`` clusters
       rows inside each file, so parquet row-group min/max stats on
       the cluster columns become tight disjoint ranges — a reader
       filtering on them skips whole row groups before decompressing
       anything (verified in tests/test_layout.py by inspecting the
       written footers).

    The read side needs no cooperation: Catalyst prunes directories
    from the hive paths (PartitionFilters) and parquet prunes row
    groups from the footers (PushedFilters) on any filtering scan.
    """
    from pyspark.sql import functions as F

    # Spark still writes parquet timestamps as INT96 by default — a
    # deprecated type with NO row-group min/max statistics, which
    # silently disables the pruning this sink exists to enable. Write
    # standard INT64 micros instead (also what the testdata uses).
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    cols = [F.col(c) for c in partition_by]
    w = (
        df.repartition(*cols)
        .sortWithinPartitions(*[F.col(c) for c in partition_by + cluster_by])
        .write.mode("overwrite")
        .partitionBy(*partition_by)
    )
    # writer-level knobs (e.g. parquet.block.size to size row groups —
    # the pruning granularity — for the expected reader's filters)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.parquet(path)


def zorder_key(c1, c2, bits: int = 16):
    """Morton/Z-order interleave of two pre-quantized non-negative int
    columns in [0, 2^bits): bit i of c1 lands at position 2i, bit i of
    c2 at 2i+1. Clustering (``write_clustered``'s ``cluster_by``) on
    this single key gives row-group locality in BOTH dimensions —
    a lexicographic sort on (c1, c2) leaves c2's per-row-group min/max
    spanning its full domain, so scans filtering only on c2 can prune
    nothing; under Z-order a range predicate on EITHER column skips
    most row groups from the footer stats (asserted on real footers in
    tests/test_layout.py).

    The interleave is 2·bits codegen'd shift/mask/or terms — pure
    row-local expression, no shuffle beyond the write's own
    repartition. Callers quantize first (rank, ntile, or min-max
    scale) — Z-order is only as balanced as its input grid.
    """
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(F.shiftleft(b2, 2 * i + 1))
    return key


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the lakehouse OPTIMIZE maintenance op.
    Streaming sinks, per-batch CDC rewrites, and fine-grained hive
    partitions all fragment a table into files far below the scan
    sweet spot; every downstream query then pays one task + one footer
    read per fragment. This rewrites the table at ``path`` into
    ``ceil(current_bytes / target_bytes)`` files (optionally re-sorted
    on ``cluster_by`` so row-group stats stay tight — compaction is
    the natural moment to restore clustering), staging into a sibling
    directory and swapping it over the original via two directory
    renames. A reader never observes a TORN table (each rename is
    atomic), but there is a brief unavailability window between the
    two renames during which the path does not exist; a crash inside
    that window leaves the original intact at ``{path}__precompact``,
    and the next call restores it before compacting (leftover
    ``__compacting`` / ``__precompact`` directories from an earlier
    crash are detected and cleaned up front). A transactional table
    format (Delta/Iceberg) replaces the swap with a metadata commit
    and closes the window; the dataflow is identical. Returns the new
    file count.

    Scale notes: sizing uses file-system metadata only (no data
    scan); the rewrite itself is one repartition shuffle of the
    table — which is the point: pay it once in maintenance, not a
    fragment-tax on every query. Partitioned (hive-layout) tables
    should compact per partition directory (call this per directory).
    """
    import math
    import os
    import shutil

    staging = f"{path}__compacting"
    backup = f"{path}__precompact"
    # Crash recovery from a previous run: a leftover backup with no
    # live table means the earlier compaction died between its two
    # renames — restore the original. Stale staging/backup dirs beside
    # a live table are incomplete rewrites — discard them.
    if os.path.exists(backup) and not os.path.exists(path):
        os.rename(backup, path)
    for leftover in (staging, backup):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)

    sizes = [
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]
    if not sizes:
        raise ValueError(f"no parquet files under {path}")
    n_files = max(1, math.ceil(sum(sizes) / target_bytes))
    df = read_parquet(spark, path)
    out = df.repartition(n_files)
    if cluster_by:
        out = out.sortWithinPartitions(*cluster_by)
    out.write.mode("overwrite").parquet(staging)
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(backup, path)  # restore the original on any failure
        raise
    shutil.rmtree(backup)
    return n_files
