"""Native batch DataSource for manifest tables —
``spark.read.format("manifest").option("path", p).load()``
(PySpark 4's Python DataSource API), the DataFrame-native face of
:func:`manifest.read_table`.

Options:

- ``path`` (required) — table root.
- ``version`` / ``timestampAsOf`` — time travel (mutually
  exclusive), same semantics as ``read_table``.
- ``predicate`` — a Spark SQL boolean expression used to PRUNE the
  scan to directories that can contain matching rows, through the
  SAME pruning brain as ``read_table`` (``manifest._conjuncts`` +
  ``_stats_keep``); the scan then returns ALL rows of the surviving
  directories, so callers must still apply the predicate as a row
  filter — :func:`scan` is the helper that does both, mirroring
  ``read_table``'s pruned-read ≡ full-read + filter contract.
- ``member`` — read ONE member of a TABLE GROUP (table_group.py):
  ``path`` names the group root, the member's manifest entry is
  pinned at the group version (mutually consistent with its
  siblings), and everything below — pruning, columns, time travel —
  applies unchanged.
- ``columns`` — comma-separated projection (VERDICT r12 item 2): the
  relation's schema narrows to exactly these columns and the
  per-file Arrow reads fetch ONLY their column chunks, so a 2-column
  select of a wide table moves 2 columns of bytes Python-side
  instead of materializing every column. Same
  reader-construction-only safety argument as ``predicate``: the
  projection is fixed per relation, so Spark 4.1's readInfo reuse
  (below) cannot serve a stale projection to a different scan.
  Unknown names fail loudly at planning.

Why an explicit ``predicate`` option instead of Catalyst filter
pushdown (``DataSourceReader.pushFilters``): Spark 4.1's Python
data source keeps ONE mutable ``readInfo`` slot per relation
(``PythonDataSourceV2.getOrCreateReadInfo`` /
``setReadInfo``) — ``PythonScanBuilder.pushFilters`` overwrites the
slot with the filtered planning, and ``PythonBatch
.planInputPartitions`` serves the slot verbatim to any LATER scan of
the same relation that pushes no filters (verified against the
shipped bytecode and reproduced empirically: ``df.filter(...)
.count()`` then ``df.count()`` returns the pruned count). Any reader
whose ``partitions()`` depend on pushed filters silently returns
wrong results under that reuse, so this source derives partitions
ONLY from reader-construction state: every planning of one relation
yields the same partitions, and reuse is harmless by construction.

Pruning without a JVM: ``partitions()`` runs in a driver-side Python
worker with NO SparkSession, which is why key-equality / IN conjuncts
resolve to candidate buckets through ``read_table``'s own JVM-free
resolver, ``manifest._resolve_candidate_buckets``: it replays every
layout ``layout_replay.compile_layout`` compiles (the default
``pmod(xxhash64(keys), n)`` through :mod:`spark_hash`'s vector lanes,
property-tested against ``F.xxhash64``, and the range families), and
any literal it cannot replay exactly refuses the whole prune. Other
partition expressions skip bucket replay and rely on per-directory
min/max stats. A predicate shape the parser doesn't understand
prunes nothing — never guesses.

Snapshot isolation: the manifest version is resolved ONCE at reader
construction — schema, directory set, stats, and deletion vectors
all come from that snapshot even if a writer commits mid-query.

Parallelism follows Spark's file-source packing rule (``FilePartition``)
instead of one input partition per bucket: the surviving buckets are
weighed by the on-disk bytes of their kept ``.parquet`` files and
packed, whole, into ``min(#buckets, ceil(total / split))`` partitions
with ``split = min(128 MiB, max(4 MiB, total / P))`` — Spark's
``maxPartitionBytes`` and ``openCostInBytes`` defaults — largest
bucket first into the lightest partition (:func:`_pack`). Every
partition is a Python task, with a fixed cost whatever it holds (a
warm one-task scan of a 200-row table: 0.10 s on 4 vCPU, 0.24–0.26 s
before ``_zipdir`` kept pyspark.zip's directory across worker
invocations), so a small table reads in one task and a large one
spreads over P. ``P`` is :func:`session.default_parallelism`, the
core count the session factory gives ``local[n]``: ``partitions()``
runs in a Python worker with no SparkSession, so it cannot ask Spark.
``read`` streams one schema-projected, DV-filtered Arrow table per
file (bucket_io.py — shared with the streaming CDF source), so memory
stays bounded by one file however many buckets a partition packs.
"""

from __future__ import annotations

import heapq
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..session import default_parallelism
from . import manifest as mf

# Spark's spark.sql.files.maxPartitionBytes / openCostInBytes defaults
_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024


class BucketScan(InputPartition):
    def __init__(self, spec: dict):
        self.spec = spec


def _pack(sizes: dict[int, int], parallelism: int) -> list[list[int]]:
    """Bin-pack buckets (bucket → bytes) into input partitions by
    Spark's ``FilePartition`` split size, ``min(128 MiB, max(4 MiB,
    total / parallelism))``: ``min(#buckets, ceil(total / split))``
    groups, filled largest bucket first into the lightest group, so
    the heaviest group exceeds the lightest by at most the largest
    bucket. A bucket is never split; each group lists its buckets in
    order, and ties break on the bucket id, so the result is
    deterministic."""
    if not sizes:
        return []
    total = sum(sizes.values())
    # integer ceilings: total / ceil(total / P) never rounds up past P
    split = min(_MAX_PARTITION_BYTES, max(_OPEN_COST_BYTES, -(-total // parallelism)))
    n = min(len(sizes), max(1, -(-total // split)))
    lightest = [(0, i) for i in range(n)]
    groups: list[list[int]] = [[] for _ in range(n)]
    for b in sorted(sizes, key=lambda b: (-sizes[b], b)):
        load, i = heapq.heappop(lightest)
        groups[i].append(b)
        heapq.heappush(lightest, (load + sizes[b], i))
    return [sorted(g) for g in groups]


def _parquet_bytes(d: str) -> int:
    if not os.path.isdir(d):
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _projected_columns(manifest: dict, options: dict) -> list[str]:
    """The relation's column list: the ``columns`` option when given
    (validated, order-preserving), else every table column."""
    opt = options.get("columns")
    if not opt:
        return list(manifest["columns"])
    want = [c.strip() for c in opt.split(",") if c.strip()]
    if not want:
        raise ValueError("the 'columns' option names no columns")
    unknown = [c for c in want if c not in manifest["columns"]]
    if unknown:
        raise ValueError(
            f"'columns' names {unknown} not in the table's columns "
            f"{list(manifest['columns'])}"
        )
    if len(set(want)) != len(want):
        raise ValueError(f"'columns' lists a column twice: {want}")
    return want


def _spark_schema(manifest: dict, columns: list[str]):
    from pyspark.sql.types import StructField, StructType

    full = mf._schema_of(manifest)
    if full is None:
        raise ValueError(
            "format('manifest') needs the persisted schema (r10+ table)"
        )
    by_name = {f.name: f for f in full.fields}
    # parquet scans always surface nullable fields (and evolved old
    # files DO hold nulls for added columns) — match read_table
    return StructType(
        [StructField(c, by_name[c].dataType, True) for c in columns]
    )


def _resolve_version(options: dict) -> tuple[str, int | None]:
    path = options.get("path")
    if not path:
        raise ValueError("format('manifest') requires the 'path' option")
    # SQL DDL (CREATE TABLE ... USING manifest) hands the path back as
    # a file: URI — normalize to the plain os path the format runs on
    path = mf.local_path(path)
    version = options.get("version")
    as_of = options.get("timestampasof") or options.get("timestampAsOf")
    if version is not None and as_of is not None:
        raise ValueError("pass version OR timestampAsOf, not both")
    v = int(version) if version is not None else None
    if as_of is not None:
        v = mf.version_at(path, float(as_of))
    return path, v


class ManifestBatchReader(DataSourceReader):
    def __init__(self, options: dict, pinned_manifest: dict | None = None):
        if pinned_manifest is not None:
            # the DataSource resolved the snapshot once for schema();
            # reuse it so declared schema and scanned snapshot can
            # never disagree (ADVICE r11: a schema-evolving commit
            # landing between schema() and reader() broke the
            # snapshot-isolation claim at the planning boundary)
            self.path = options["path"]
            self.manifest = pinned_manifest
        else:
            self.path, v = _resolve_version(options)
            self.manifest = mf.read_manifest(self.path, v)
        self._columns = _projected_columns(self.manifest, options)
        predicate = options.get("predicate")
        # the same conservative parser read_table prunes with; a shape
        # it can't parse yields [] → full scan, never a wrong prune
        self._conjs = (
            mf._conjuncts(predicate)
            if predicate and mf._schema_of(self.manifest) is not None
            else []
        )
        # the session timezone timestamp LITERALS resolve under —
        # scan() forwards it; without it timestamp lanes refuse and
        # timestamp stats comparisons keep their directories
        self._tz = options.get("sessiontimezone") or options.get("sessionTimeZone")
        full_scan_ok = (options.get("fullscan") or options.get("fullScan") or "") \
            .lower() == "true"
        if not predicate and not full_scan_ok and len(self.manifest.get("buckets", {})) > 1:
            # VERDICT r11 item 8 — the pruning trap, said out loud:
            # .filter() on the loaded frame CANNOT prune this source
            # (Catalyst pushFilters is rejected for cause — the Spark
            # 4.1 readInfo reuse bug, module docstring), so a plain
            # load() scans EVERY bucket. Point the user at the two
            # APIs that do prune.
            import warnings

            warnings.warn(
                "spark.read.format('manifest') without a 'predicate' "
                "option scans every bucket — a .filter() on the loaded "
                "DataFrame cannot prune this source (Catalyst pushdown "
                "is disabled for cause; see manifest_source docstring). "
                "For selective reads pass .option('predicate', ...), or "
                "use manifest_source.scan(...) / manifest.read_table(...) "
                "which prune and re-apply the filter for you.",
                stacklevel=2,
            )

    def partitions(self) -> list[InputPartition]:
        man = self.manifest
        candidates = sorted(int(b) for b in man["buckets"])
        conjs = self._conjs
        if conjs:
            pinned = mf._resolve_candidate_buckets(man, conjs, self._tz)
            if pinned is not None:
                keep = set(pinned)
                candidates = [b for b in candidates if b in keep]
        schema = mf._schema_of(man)
        dtypes = {f.name: f.dataType for f in schema.fields} if schema else {}
        all_stats = man.get("stats", {})
        kept: dict[int, list[str]] = {}
        for b in candidates:
            dirs = []
            for rel in man["buckets"].get(str(b), []):
                st = all_stats.get(rel, {}).get(str(b), {})
                if not conjs or mf._stats_keep(st, conjs, dtypes, self._tz):
                    dirs.append(
                        f"{self.path.rstrip('/')}/{rel}/{mf._BUCKET_COL}={b}"
                    )
            if dirs:
                kept[b] = dirs
        sizes = {b: sum(map(_parquet_bytes, dirs)) for b, dirs in kept.items()}
        # everything pruned (or the table is empty): Spark calls
        # read(None) when partitions() is empty, so hand it one
        # partition that yields nothing instead
        groups = _pack(sizes, default_parallelism()) or [[]]
        return [
            BucketScan(
                {
                    "table_path": self.path,
                    "schema_json": man["schema"],
                    "columns": self._columns,
                    "dirs": [d for b in group for d in kept[b]],
                    # tombstones are keyed per file: a union is exact
                    "dvs": mf._dv_dirs(self.path, man, group),
                }
            )
            for group in groups
        ]

    def read(self, partition: BucketScan):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField, StructType

        from .bucket_io import iter_file_tables

        spec = partition.spec
        full = StructType.fromJson(json.loads(spec["schema_json"]))
        by_name = {f.name: f for f in full.fields}
        arrow_schema = to_arrow_schema(
            StructType(
                [StructField(c, by_name[c].dataType, True) for c in spec["columns"]]
            )
        )
        for t in iter_file_tables(
            spec["table_path"], spec["dirs"], spec["dvs"], arrow_schema
        ):
            yield from t.to_batches()


class ManifestDataSource(DataSource):
    """``spark.read.format("manifest").option("path", p)`` for batch
    reads, ``df.writeStream.format("manifest")`` for the exactly-once
    streaming append sink (manifest_sink.py) — register once per
    session with :func:`register_manifest_source`."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def _pinned(self) -> tuple[str, dict]:
        """Resolve (path, version[, member]) → (data path, manifest)
        exactly ONCE per DataSource instance: ``schema()`` and
        ``reader()`` must describe the SAME snapshot even if a
        schema-evolving commit lands between the two calls (ADVICE
        r11). With the ``member`` option (r13) the path names a TABLE
        GROUP (table_group.py): the member's entry — same shape as a
        standalone manifest — is synthesized at the group version and
        the data path descends into the member directory, so the whole
        pruning/scan machinery below runs unchanged."""
        if getattr(self, "_pin", None) is None:
            import os

            path, v = _resolve_version(dict(self.options))
            man = mf.read_manifest(path, v)
            member = self.options.get("member")
            if member:
                from .table_group import _member_entry

                man = {**_member_entry(man, member), "version": man["version"]}
                path = os.path.join(path, member)
            self._pin = (path, man)
        return self._pin

    def schema(self):
        _, man = self._pinned()
        return _spark_schema(man, _projected_columns(man, dict(self.options)))

    def reader(self, schema) -> ManifestBatchReader:
        path, man = self._pinned()
        return ManifestBatchReader(
            {**dict(self.options), "path": path}, pinned_manifest=man
        )

    def streamWriter(self, schema, overwrite: bool):
        from .manifest_sink import ManifestStreamWriter

        if overwrite:
            raise ValueError(
                "the manifest sink is append-only (outputMode('append'))"
            )
        if self.options.get("member"):
            raise ValueError(
                "the native sink writes standalone manifest tables only — "
                "group members move together under one group commit; use "
                "table_group.group_transact (e.g. via foreachBatch) so the "
                "sibling members advance atomically with this one"
            )
        return ManifestStreamWriter(dict(self.options), schema)


def register_manifest_source(spark) -> None:
    """Register the ``manifest`` batch format on the session
    (idempotent)."""
    spark.dataSource.register(ManifestDataSource)


def scan(
    spark,
    path: str,
    predicate: str | None = None,
    version: int | None = None,
    timestamp_as_of: float | None = None,
    columns: list[str] | None = None,
    member: str | None = None,
):
    """The user face of the native format: a pruned scan WITH the
    predicate re-applied as a row filter — result ≡ unpruned read +
    filter by construction, exactly ``read_table``'s contract but
    through ``spark.read.format("manifest")``.

    ``columns`` projects the read to just those column chunks
    (VERDICT r12 item 2). When a predicate is also given, the
    underlying read widens to the union of ``columns`` and EVERY
    table column the predicate mentions — the parseable conjuncts
    drive pruning, and any other referenced identifier (a LIKE, NOT,
    or mixed-OR conjunct the conservative parser degrades on) still
    widens the read (ADVICE r13, low), so the re-applied row filter
    never fails analysis on a projected scan. The result is then
    selected back down to ``columns``."""
    register_manifest_source(spark)
    reader = spark.read.format("manifest").option("path", path)
    if member is not None:
        reader = reader.option("member", member)
    if version is not None:
        reader = reader.option("version", str(version))
    if timestamp_as_of is not None:
        reader = reader.option("timestampAsOf", str(timestamp_as_of))
    read_cols = list(columns) if columns else None
    if predicate:
        reader = reader.option("predicate", predicate)
        # timestamp literals in the predicate must resolve under the
        # SAME zone the row filter will use — forward the session's
        reader = reader.option(
            "sessionTimeZone", spark.conf.get("spark.sql.session.timeZone")
        )
        if read_cols is not None:
            for col, _, _ in mf._conjuncts(predicate):
                if col not in read_cols:
                    read_cols.append(col)
            # ADVICE r13 (low): conjuncts the conservative parser
            # degrades on (LIKE / NOT / mixed OR) still reference
            # columns the row filter needs — widen by every predicate
            # identifier that IS a table column, so the filter never
            # hits an AnalysisException against a projected read
            p = mf.local_path(path)
            man = mf.read_manifest(
                p,
                version if version is not None
                else (mf.version_at(p, timestamp_as_of)
                      if timestamp_as_of is not None else None),
            )
            if member is not None:
                from .table_group import _member_entry

                man = _member_entry(man, member)
            table_cols = set(man["columns"])
            for tok in sorted(mf._expr_tokens(predicate) & table_cols):
                if tok not in read_cols:
                    read_cols.append(tok)
    else:
        # scan() with no predicate is a DELIBERATE full scan — don't
        # fire the plain-load() pruning-trap warning
        reader = reader.option("fullScan", "true")
    if read_cols is not None:
        reader = reader.option("columns", ",".join(read_cols))
    df = reader.load()
    if predicate:
        df = df.filter(predicate)
    return df.select(*columns) if columns else df


def create_sql_table(
    spark,
    name: str,
    path: str,
    version: int | None = None,
    timestamp_as_of: float | None = None,
    member: str | None = None,
) -> None:
    """The SQL face of a manifest table (VERDICT r13 item 7): register
    ``name`` so ``spark.table(name)`` / ``SELECT ... FROM name`` read
    the table's snapshot — time travel via ``version`` /
    ``timestamp_as_of``, group members via ``member``.

    WHY a session view and not ``CREATE TABLE ... USING manifest``:
    Spark 4.1's Python DataSource catalog integration drops the stored
    OPTIONS at read time — ``PythonDataSourceV2.getTable(schema,
    partitioning, properties)`` ignores ``properties`` and the
    catalog-table scan reaches ``reader()`` with an EMPTY options map,
    so a ``USING manifest`` table cannot find its path on SELECT
    (pinned in tests/test_sql_surface.py; when an upstream release
    threads the options through, that pin flips and real DDL can
    replace this). The view is built over ``read_table``'s JVM parquet
    lane, so ``WHERE``/column pruning on it push down to the parquet
    scan through Catalyst (PushedFilters / ReadSchema); what a view
    cannot do is manifest-level bucket/stats DIRECTORY pruning — the
    directory set is pinned at registration (snapshot semantics, like
    every read in this format). For selective point reads use
    ``scan(...)`` / ``read_table(predicate=...)``, which prune
    directories before Spark ever lists them.

    Re-registering the same name refreshes to the newest version
    (views are replaceable); the view is session-scoped, like the
    DataSource registration itself."""
    if member is not None:
        from .table_group import read_group_table

        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_as_of, not both")
            version = mf.version_at(mf.local_path(path), timestamp_as_of)
        df = read_group_table(spark, mf.local_path(path), member, version)
    else:
        df = mf.read_table(
            spark, mf.local_path(path), version=version, as_of=timestamp_as_of
        )
    df.createOrReplaceTempView(name)
