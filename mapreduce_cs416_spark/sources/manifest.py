"""Minimal versioned-manifest table format — the transactional layer
that bounds per-batch CDC writes to changed partitions.

VERDICT r8 item 5: ``streaming_cdc_merge`` rewrote the WHOLE parquet
snapshot every micro-batch — correct, replay-idempotent, and
O(snapshot) per batch, which at 100 TB means every binlog batch pays a
full-table write. Real lakehouse formats (Delta, Iceberg, Hudi — all
public designs) fix this with the same ideas reproduced here:

1. **Data files are immutable; commits are manifest publishes.** A
   table is a directory of immutable parquet bucket directories plus
   ``_manifests/v{N}.json`` files mapping each key-bucket to its
   current data directories. Readers resolve the highest committed
   version and read exactly the listed directories — never a raw
   recursive listing — so an in-flight writer is invisible until its
   manifest lands. The commit is ONE atomic put-if-absent publish
   (``os.link`` of a staged file onto ``v{N}.json``, which fails with
   EEXIST if the version already exists); there is no torn-table
   window at all, and **two racing writers cannot both win**: exactly
   one link succeeds, the loser gets a typed :class:`CommitConflict`
   and retries its whole merge from the new latest version (VERDICT
   r9 item 1 — ``os.rename`` silently replaced a racing committer's
   manifest, a lost update). A version at or below the current head
   is refused before the link, so a writer whose slot was committed
   and then vacuumed cannot re-create it. Each writer also stages its
   data under a writer-unique ``data/v{N}-{token}`` directory, so a losing
   writer's files never clobber the winner's — they become orphans
   that ``vacuum`` reclaims.

2. **Merges rewrite only touched buckets.** Rows are hash-bucketed on
   the merge key (``pmod(xxhash64(key), n_buckets)`` — the same
   deterministic bucketing as ``sources/bucketed.py``). A changelog
   batch first computes its distinct touched buckets (≤ n_buckets
   rows collected, bounded by construction), reads ONLY those
   buckets' current directories, runs the standard
   ``operators/cdc.cdc_merge`` against that subset, and writes the
   merged result back partitioned by bucket under a fresh version
   directory. Untouched buckets keep their existing files
   byte-for-byte (test-pinned); per-batch write volume is
   O(touched_buckets × bucket_size), not O(snapshot).

3. **Reads prune.** ``read_table(..., predicate=...)`` resolves
   key-equality predicates through the table's ``partition_expr`` to
   the exact bucket, with no Spark job: the literals are cast to the
   persisted column types and the layout is replayed in Python
   (``_resolve_candidate_buckets`` over ``layout_replay``; a layout
   it cannot replay prunes by stats only), and per-bucket min/max
   column stats recorded at write time prune range predicates — a selective
   read lists and opens ONLY the matching bucket directories (VERDICT
   r9 item 2: the read half of the lakehouse story). The full
   predicate is always re-applied as a row filter after the scan, so
   pruning is purely an I/O optimization and can never change
   results; unparseable predicates simply prune nothing. Every
   writer (batch writes, the streaming sink, its compaction) takes
   the stats from ONE function, ``_bucket_stats``, over the written
   rows in Arrow — batch writes read each bucket's stats columns
   back with pyarrow, no Spark job — and a float column holding NaN
   gets no stats, so a prune never drops NaN rows the filter keeps.

Crash/replay contract: data directories are written BEFORE the
manifest publish, so a crash mid-commit leaves orphan directories and
the previous manifest — readers never see partial data, and the
stream's replayed batch re-applies onto the old version. The merge
itself is idempotent (keyed upserts / keyed deletes), so re-applying
a fully committed batch produces an identical bucket image under a
new version. ``vacuum(keep_versions=k)`` removes directories
unreferenced by the newest ``k`` manifests — the retention guard that
keeps advertised time travel readable while bounding storage (VERDICT
r9 item 7: an unguarded vacuum broke concurrent old-version readers
mid-scan; the public formats gate deletion with exactly this window).

Beyond merge, the format carries the rest of the lakehouse op set:
``append_into`` adds one immutable directory per touched bucket
without reading any existing file (buckets map to LISTS of
directories — the file-list-per-partition manifest shape);
``compact`` is the transactional OPTIMIZE, folding fragmented buckets
under one new version with no unavailability window;
``merge_into(..., aux={...})`` commits side tables (e.g. an IVM
materialized view) ATOMICALLY with the snapshot under the same single
publish — the multi-table transaction that closes
streaming_view_maintenance's crash-between-two-overwrites window;
``history``/``read_table(as_of=...)`` are the DESCRIBE HISTORY and
timestamp-time-travel faces (every commit stamps its op and
wall-clock); and ``read_changes(from, to)`` is the change data feed —
a cdc_merge-applicable changelog diffed from ONLY the buckets whose
directory lists differ between the two manifests, so its I/O is
bounded by changed buckets exactly like the write side.

r11 completes the mutation surface: ``evolve_schema`` (add-column +
safe type widening validated and committed WITH the write; old files
project through the pinned-schema reader, nothing rewritten),
``delete_from`` (predicate-pruned copy-on-write row deletes at
directory granularity), ``compact(zorder_by=...)`` (re-clustering
OPTIMIZE whose Z-order slices make per-directory min/max stats tight
so range pruning improves after maintenance), pruning for ``BETWEEN``
and same-column OR-of-equalities, and ``create_aux_logs`` /
``append_aux_logs`` (N append-only side tables grown in lockstep by
ONE tagged-union write + ONE commit — the ingest gate's torn-index
fix). Read-side: ``read_changes`` spans evolution boundaries (and emits
Delta-style update preimages on request); ``operators/ivm
.cdf_view_step`` tails ``read_changed_sides`` with a persisted version
cursor committed atomically with the downstream view — the streaming
change-data-feed consumer; and ``streaming/cdf_source.py`` exposes the
feed as a NATIVE Structured Streaming source
(``spark.readStream.format("manifest_cdf")``, offsets = versions, one
input partition per changed bucket). ``delete_from(mode="dv")`` adds
deletion vectors — (file, row-position) tombstones, zero data files
touched — folded and cleared by every bucket-rewriting op.

Late-r11: ``repartition_table`` evolves the PARTITION SPEC (hash↔
range, bucket-count changes) as one atomic rewrite-and-publish —
the layout knob becomes changeable without downtime; the change data
feed reads EMPTY across the boundary (same rows, new layout) and a
running native sink refuses to commit stale-layout staging.

Late-r11 native DataFrame faces: ``spark.read.format("manifest")``
(manifest_source.py — snapshot-pinned batch reads with time travel
and the same JVM-free predicate pruning as ``read_table``) and the
EXACTLY-ONCE streaming append sink
``df.writeStream.format("manifest")`` (manifest_sink.py — executors
bucket and write their partitions directly, the driver publishes one
put-if-absent version per micro-batch, a per-sink batch cursor
absorbs re-delivered batches).

r12 bounds the METADATA plane (the wall every streaming table hits
first, since the native sink commits one version per micro-batch):
latest-version resolution is O(1) via a ``_latest`` pointer hint +
forward probe (never a directory listing — Delta's
``_last_checkpoint`` shape), and commits between every
``_CHECKPOINT_EVERY``-th one publish DELTAS carrying only the
buckets/stats/cursor entries that changed (Delta's checkpoint-interval
log compaction); ``read_manifest`` folds at most K-1 deltas onto the
nearest self-contained snapshot, so a 1000-commit table reads with
the same bounded metadata I/O as a 10-commit one (test-pinned by
counted file opens). ``vacuum`` materializes the oldest retained
version before dropping its fold base. Timestamp handling is
timezone-correct by construction: timestamp stats persist as UTC
micros (``unix_micros`` — an instant, not a session-naive string) and
zoneless literals resolve under the READER's session timezone exactly
as the row filter will (``spark_hash.timestamp_literal``;
DST-ambiguous literals refuse the prune), so timestamp-keyed tables
bucket-prune in ``read_table`` and the native source alike.

At 1000 executors the bucket count is the write-parallelism knob:
n_buckets should be ≥ cluster cores for merge throughput and small
enough that a bucket is a few files (here 16 for test-sized tables).
``partition_expr`` must be a pure function of the KEY columns
(validated at ``create_table``) — a mutable non-key column in the
expression would let an update land in a different bucket than the
stored row, silently resurrecting the stale copy (ADVICE r9). Good
choices: hash buckets (default), ``floor(o_orderkey / 65536)`` for
key-range-local changelogs.
Reference parity anchor: the reference engine's sinks are append-only
text/parquet (SURVEY §2.C); this layer is the warehouse-side extension
its pipelines would need for mutable state.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import spark_hash

_MANIFEST_DIR = "_manifests"
_BUCKET_COL = "_bucket"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Column types that get min/max stats at write time (orderable atomic
# types whose values round-trip JSON faithfully; decimals are skipped —
# a float-rounded decimal boundary could mis-prune).
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType, T.TimestampType,
)


class CommitConflict(RuntimeError):
    """Another writer committed this version first. The caller should
    re-read the latest manifest and retry its whole operation from
    there (``merge_into``/``append_into``/``compact`` do so
    automatically up to ``conflict_retries`` times)."""


def local_path(path: str) -> str:
    """Strip a ``file:`` URI scheme — Spark's catalog normalizes a SQL
    ``CREATE TABLE ... USING manifest OPTIONS (path ...)`` path into a
    URI (``file:/x`` or ``file:///x``) before the DataSource sees it,
    but this format's metadata layer runs on plain os paths."""
    if path.startswith("file://"):
        return path[len("file://"):] or "/"
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def default_partition_expr(key_cols: list[str], n_buckets: int) -> str:
    """Hash-bucket partitioning — the fallback when keys have no
    natural locality. A changelog with uniformly distributed keys
    touches ALL hash buckets, so tables whose changelogs are key-local
    should pass a range ``partition_expr`` over the key instead
    (``floor(o_orderkey / 65536)``) — partition-expression choice is
    exactly what bounds merge I/O in the public table formats too.
    The expression MUST reference only key columns (enforced by
    ``create_table``)."""
    cols = ", ".join(key_cols)
    return f"pmod(xxhash64({cols}), {n_buckets})"


def _bucket_col(manifest: dict):
    return F.expr(manifest["partition_expr"]).cast("long").alias(_BUCKET_COL)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version}.json")


_LATEST_PTR = "_latest"


def _write_latest_ptr(path: str, version: int) -> None:
    """Advisory latest-version HINT (Delta's ``_last_checkpoint``
    shape): written temp-then-rename (atomic content, never torn)
    AFTER the put-if-absent publish. Readers treat it as a lower
    bound and probe forward, so a stale pointer (crash between link
    and pointer write, or two committers racing the pointer update)
    costs extra ``exists`` probes, never a wrong answer."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    tmp = os.path.join(mdir, f".ptr-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(mdir, _LATEST_PTR))


def _list_versions_max(mdir: str) -> int:
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def current_version(path: str) -> int:
    """Highest committed manifest version, 0 if none. Commits are
    single-file put-if-absent publishes, so any file present is
    complete. Resolution is O(1): read the ``_latest`` pointer, then
    probe forward file-by-file (the pointer lags by at most the few
    commits that crashed between publish and pointer write) — a read
    never lists the whole ``_manifests`` directory, which on a
    streaming table is one entry per micro-batch ever committed
    (VERDICT r11 item 1). Tables without a pointer (pre-r12, or a
    deleted hint) fall back to the listing once; the next commit or
    vacuum rewrites it."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    try:
        with open(os.path.join(mdir, _LATEST_PTR)) as fh:
            v = int(fh.read().strip())
    except (FileNotFoundError, NotADirectoryError, ValueError):
        if not os.path.isdir(mdir):
            return 0
        return _list_versions_max(mdir)
    while os.path.exists(_manifest_path(path, v + 1)):
        v += 1
    if v > 0 and not os.path.exists(_manifest_path(path, v)):
        # a pointer below the vacuum horizon (possible only if pointer
        # writes were lost for a whole retention window) — fall back
        return _list_versions_max(mdir)
    return v


# Write a full (self-contained) manifest every K commits; the K-1 in
# between carry only the fields/keys that CHANGED (touched buckets,
# new stats rel, the cursor...) — per-commit metadata is O(change),
# not O(table), and a read folds at most K-1 deltas onto one full
# snapshot. 10 matches Delta's default checkpoint interval.
_CHECKPOINT_EVERY = 10

# sentinel distinguishing "absent" from "None" in the differ
_MISSING = object()


def _diff_dict(base: dict, new: dict) -> dict:
    """Recursive per-key diff: keys present as dicts on BOTH sides
    descend (``d``); everything else lands whole in ``set``/``del``.
    Empty sections are pruned to keep delta files minimal."""
    ent: dict = {"set": {}, "del": [k for k in base if k not in new], "d": {}}
    for k, v in new.items():
        b = base.get(k, _MISSING)
        if b is not _MISSING and b == v:
            continue
        if isinstance(v, dict) and isinstance(b, dict):
            ent["d"][k] = _diff_dict(b, v)
        else:
            ent["set"][k] = v
    return {k: v for k, v in ent.items() if v}


def _diff_manifest(base: dict, new: dict) -> dict:
    """Delta record turning ``base`` into ``new``: scalar fields land
    in ``set``/``del`` whole; dict-valued fields (buckets, stats, dvs,
    aux, stream_cursors — anything dict-on-both-sides) diff per key,
    RECURSIVELY (r14) — so a single-table commit that touches 2 of
    4096 buckets persists 2 entries, and a table-GROUP commit
    (table_group.py: one ``tables`` map of member entries) that
    touches 2 buckets of one member persists those 2 bucket entries,
    not the member's whole manifest. List-valued leaves (a bucket's
    rel list) still persist whole — they ARE the unit of change."""
    return {"kind": "delta", **_diff_dict(base, new)}


def _fold_dict(base: dict, ent: dict) -> dict:
    out = dict(base)
    for k in ent.get("del", []):
        out.pop(k, None)
    out.update(ent.get("set", {}))
    for k, sub in ent.get("d", {}).items():
        cur = out.get(k)
        out[k] = _fold_dict(cur if isinstance(cur, dict) else {}, sub)
    return out


def _fold_manifest(base: dict, delta: dict) -> dict:
    # pre-r14 delta files carry flat {"set","del"} entries under "d";
    # _fold_dict reads them identically (absent nested "d" sections)
    return _fold_dict(base, delta)


def read_manifest(path: str, version: int | None = None) -> dict:
    """The FULL manifest at ``version`` (default latest). A version
    file is either self-contained or a delta against version-1; deltas
    chain back at most ``_CHECKPOINT_EVERY - 1`` files to the nearest
    full snapshot and fold forward — bounded metadata I/O per read
    regardless of how many commits the table has seen."""
    v = version if version is not None else current_version(path)
    if v == 0:
        raise FileNotFoundError(f"no committed manifest under {path}")

    def _walk(v: int) -> dict:
        chain: list[dict] = []
        w = v
        while True:
            try:
                with open(_manifest_path(path, w)) as fh:
                    m = json.load(fh)
            except FileNotFoundError:
                if w == v:
                    raise
                raise FileNotFoundError(
                    f"manifest v{w} (delta base of v{v}) is missing under "
                    f"{path} — vacuumed past a delta chain?"
                ) from None
            if m.get("kind") != "delta":
                break
            chain.append(m)
            w -= 1
            if w == 0:
                raise ValueError(
                    f"delta chain under {path} reaches v0 (corrupt)"
                )
        for d in reversed(chain):
            m = _fold_manifest(m, d)
        return m

    try:
        return _walk(v)
    except FileNotFoundError:
        # ADVICE r12 (low): a concurrent vacuum materializes the oldest
        # kept version as a full snapshot (os.replace) and then deletes
        # its delta-chain bases; a reader that opened a KEPT version as
        # a delta just before the replace can walk below the new
        # horizon. One retry from a fresh open observes the
        # materialized snapshot and succeeds — the version itself is
        # still retained, only its old delta encoding is gone. A
        # genuinely vacuumed-away version fails the retry with the same
        # error (one extra bounded metadata walk, no behavior change).
        return _walk(v)


def _versions(path: str) -> list[int]:
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def history(path: str) -> list[dict]:
    """The table's commit log over the still-present manifests (older
    entries disappear with ``vacuum``'s retention): one dict per
    version with the op that produced it, its commit wall-clock, and
    its bucket count — the DESCRIBE HISTORY face of the format."""
    out = []
    for v in _versions(path):
        m = read_manifest(path, v)
        out.append(
            {
                "version": v,
                "op": m.get("op", "?"),
                "committed_at": m.get("committed_at"),
                # group manifests (table_group.py) count member buckets
                "n_buckets": sum(
                    len(e["buckets"]) for e in m["tables"].values()
                ) if "tables" in m else len(m["buckets"]),
            }
        )
    return out


def version_at(path: str, as_of: float) -> int:
    """Newest still-present version committed at or before the given
    unix timestamp — the timestamp face of time travel. Raises if
    every retained version is newer (the as-of point was vacuumed or
    precedes the table)."""
    best = 0
    for v in _versions(path):
        ts = read_manifest(path, v).get("committed_at")
        if ts is not None and ts <= as_of:
            best = max(best, v)
    if best == 0:
        raise FileNotFoundError(
            f"no retained version committed at or before {as_of} under {path}"
        )
    return best


def _commit(path: str, manifest: dict) -> None:
    """Stage the manifest JSON then publish it put-if-absent — the
    entire transaction. ``os.link`` fails with EEXIST when the target
    version already exists, so of two racing writers exactly ONE wins;
    the loser gets :class:`CommitConflict` and must retry from the new
    latest version. (A plain ``os.rename`` would REPLACE the winner's
    manifest — the silent lost update VERDICT r9 flagged.) A reader
    listing _manifests either sees the new version complete or not at
    all.

    Metadata is BOUNDED (VERDICT r11 item 1): unless this is every
    ``_CHECKPOINT_EVERY``-th commit (or v1), the published file is a
    DELTA against version-1 — only the buckets/stats/cursor entries
    this commit changed — so a native-sink micro-batch that appends to
    3 buckets persists 3 manifest entries, not the whole bucket map.
    The diff base is re-read from disk: a successful put-if-absent of
    version N proves N-1 was the latest at publish time, so the base
    is exact by construction even under commit races. After the link,
    the ``_latest`` pointer is refreshed (advisory, forward-probed by
    readers).

    The link alone cannot see a slot that was committed and then
    vacuumed: a writer whose base fell behind ``vacuum``'s retention
    window would re-create that version, point ``_latest`` at it, and
    readers would stop at the gap above it — every newer commit
    silently lost. So a version at or below the current head is a
    conflict before anything is staged. (A slot is vacuumed only after
    newer versions exist, so the head never drops below it again.)"""
    import time

    version = manifest["version"]
    if current_version(path) >= version:
        raise CommitConflict(
            f"version {version} is at or below the head under {path} "
            "(committed, maybe already vacuumed); retry from the latest "
            "manifest"
        )
    manifest["committed_at"] = time.time()  # history / as-of metadata
    base = None
    if version > 1:
        try:
            base = read_manifest(path, version - 1)
        except (FileNotFoundError, ValueError):
            base = None  # vacuumed/corrupt base: publish self-contained
    chain = 0 if base is None else base.get("chain", 0) + 1
    if base is not None and chain < _CHECKPOINT_EVERY:
        manifest["chain"] = chain
        payload = _diff_manifest(base, manifest)
    else:
        manifest["chain"] = 0
        payload = manifest
    mdir = os.path.join(path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    staged = os.path.join(mdir, f".staged-{uuid.uuid4().hex}.json")
    with open(staged, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    target = _manifest_path(path, version)
    try:
        os.link(staged, target)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} was committed by another writer "
            f"under {path}; retry from the latest manifest"
        ) from None
    finally:
        os.unlink(staged)
    _write_latest_ptr(path, version)


def _new_rel(version: int) -> str:
    """Writer-unique data directory for a prospective version — the
    uuid token guarantees two racing writers staging the same version
    number never write into each other's files; only the manifest
    publish decides the winner, and the loser's directory is an orphan
    for ``vacuum``."""
    return os.path.join("data", f"v{version}-{uuid.uuid4().hex[:8]}")


def _write_buckets(df: DataFrame, path: str, rel: str) -> None:
    """Write ``df`` (already carrying _bucket) under ``path/rel``,
    hive-partitioned by bucket, one shuffle on the bucket key.
    Manifests store relative paths so the table is relocatable."""
    (
        df.repartition(F.col(_BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(os.path.join(path, rel))
    )


def _written_buckets(path: str, rel: str) -> list[int]:
    """Bucket ids present under a just-written version directory.
    Raises (and removes the orphan directory) if any row had a NULL
    key — the bucket expression then yields NULL and parquet writes
    the hive default-partition leaf, which would silently corrupt the
    bucket map (ADVICE r9)."""
    vdir = os.path.join(path, rel)
    leaves = [d for d in os.listdir(vdir) if d.startswith(f"{_BUCKET_COL}=")]
    if any(d.endswith(_HIVE_NULL) for d in leaves):
        shutil.rmtree(vdir, ignore_errors=True)
        raise ValueError(
            "manifest table keys must be non-null: a row's partition "
            "expression evaluated to NULL (null key column?)"
        )
    return sorted(int(d.split("=", 1)[1]) for d in leaves)


def _collect_stats(path: str, rel: str, schema: T.StructType) -> dict:
    """Per-bucket min/max column stats for a just-written version
    directory, keyed ``stats[rel][bucket][col] = [min, max]`` in the
    manifest; used by ``read_table`` to prune range predicates.
    ``schema`` is the written frame's schema. Each ``_bucket=N`` leaf's
    parquet files are read back with pyarrow, only the stats columns,
    and profiled by :func:`_bucket_stats` — the function the streaming
    sink applies to its in-memory partitions — so no Spark job runs
    and the merge plan is never recomputed. Every written bucket gets
    an entry, ``{}`` when it has no stats column to profile; a version
    directory with no bucket leaves (delete-only merge) gives ``{}``."""
    import pyarrow.parquet as pq

    vdir = os.path.join(path, rel)
    cols = [f.name for f in schema.fields if _has_stats(f)]
    return {
        leaf.split("=", 1)[1]: _bucket_stats(
            pq.read_table(os.path.join(vdir, leaf), columns=cols), schema
        )
        for leaf in sorted(os.listdir(vdir))
        if leaf.startswith(f"{_BUCKET_COL}=")
    }


def _has_stats(field: T.StructField) -> bool:
    return field.name != _BUCKET_COL and isinstance(field.dataType, _STATS_TYPES)


def _bucket_stats(table, schema: T.StructType) -> dict:
    """``{col: [min, max]}`` of one bucket's Arrow ``table`` for every
    ``schema`` field with stats, JSON-ready: dates as ISO strings
    (lexicographic == chronological), timestamps as UTC micros ints
    (tz-independent, r12 — INT96 files read as nanoseconds, hence the
    cast to micros first). An all-null column gets no entry.

    A float/double column holding any NaN gets no entry either: Spark
    orders NaN above every numeric (``double('NaN') > 5.0`` is true),
    so its row filter keeps NaN rows under ``x > lit``, while pruning
    on a finite max (what arrow's min_max and some parquet writers
    report, skipping NaN) or on a NaN max (which Python-compares False)
    would drop them. No stats, no pruning on that column — always
    correct. The NaN check reads the data, so it holds whatever a
    parquet writer put in its footers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for f in schema.fields:
        if not _has_stats(f):
            continue
        col = table.column(f.name)
        if col.null_count == len(col):
            continue
        if isinstance(f.dataType, T.TimestampType):
            col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            if pc.any(pc.is_nan(col)).as_py():
                continue
        mm = pc.min_max(col)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if isinstance(f.dataType, T.DateType):
            mn, mx = mn.isoformat(), mx.isoformat()
        out[f.name] = [mn, mx]
    return out


def _bucket_dirs(path: str, manifest: dict, buckets: list[int]) -> list[str]:
    """Every live data directory of the given buckets — a bucket maps
    to a LIST of version directories (one after a merge/compact, many
    after appends), exactly the file-list-per-partition shape of the
    public formats' manifests."""
    return [
        os.path.join(path, rel, f"{_BUCKET_COL}={b}")
        for b in buckets
        for rel in manifest["buckets"].get(str(b), [])
    ]


def _schema_of(manifest: dict) -> T.StructType | None:
    s = manifest.get("schema")
    return T.StructType.fromJson(json.loads(s)) if s else None


def _reader(spark: SparkSession, manifest: dict):
    """Parquet reader pinned to the manifest's persisted schema, so a
    version whose buckets span a schema-evolution boundary reads
    uniformly: files written before an add-column return typed NULLs,
    and files written before a type widening are up-cast by the
    parquet reader (int32→long, float→double — Spark 4 widening
    promotions, verified in tests). Without the explicit schema a
    mixed-version read would take whichever file's footer Spark
    sampled first. Pre-r10 manifests (no persisted schema) fall back
    to footer inference, as before."""
    schema = _schema_of(manifest)
    return spark.read.schema(schema) if schema is not None else spark.read


# --- schema evolution --------------------------------------------------

# Safe widening promotions: every chain the parquet reader can apply
# to OLD files at read time (verified in tests/test_manifest.py), so
# widening a column never requires rewriting committed data.
_WIDENS_TO: dict[str, tuple[str, ...]] = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}


def _widens(frm: T.DataType, to: T.DataType) -> bool:
    if isinstance(frm, T.DecimalType) and isinstance(to, T.DecimalType):
        # scale may only grow, and so must the integral digits —
        # exactly the lossless decimal promotion the parquet reader
        # applies (verified in tests); anything else risks overflow
        return to.scale >= frm.scale and (
            to.precision - to.scale >= frm.precision - frm.scale
        )
    return to.typeName() in _WIDENS_TO.get(frm.typeName(), ())


def evolve_schema(
    old: T.StructType, incoming: T.StructType, key_cols: list[str]
) -> T.StructType:
    """The table schema after accepting a write with ``incoming`` data
    columns (bookkeeping columns already stripped) — the add-column /
    type-widening contract of the format (VERDICT r10 item 1; the
    public lakehouse formats' mergeSchema semantics):

    - a column absent from ``old`` is APPENDED, nullable — existing
      files return typed NULLs for it via the pinned-schema reader;
    - a column whose incoming type safely WIDENS its stored type
      (int chain, float→double) evolves to the wider type — old files
      up-cast at read time, nothing is rewritten;
    - an incoming type NARROWER than the stored type keeps the stored
      type — the write itself is up-cast (``_conform``), lossless;
    - KEY columns must keep their exact stored type: the partition
      expression hashes the key's runtime type (xxhash64(int) !=
      xxhash64(long)), so widening a key would re-route every
      existing row's bucket. Narrower incoming keys are fine — they
      are up-cast BEFORE bucketing;
    - anything else (string↔numeric, double→float, …) raises — an
      unsafe narrowing or type change must never be committed
      silently.

    Columns of ``old`` absent from ``incoming`` are kept: a write may
    omit trailing columns, whose values are NULL in the written rows
    (the changelog's full-row-image contract makes that explicit)."""
    by_name = {f.name: f for f in incoming.fields}
    fields: list[T.StructField] = []
    for f in old.fields:
        inc = by_name.pop(f.name, None)
        if inc is None or inc.dataType == f.dataType:
            fields.append(f)
        elif _widens(inc.dataType, f.dataType):
            fields.append(f)  # narrower write: up-cast by _conform
        elif f.name in key_cols:
            raise ValueError(
                f"key column {f.name!r} cannot change type "
                f"({f.dataType.simpleString()} → {inc.dataType.simpleString()}): "
                "the partition hash replays the stored type"
            )
        elif _widens(f.dataType, inc.dataType):
            fields.append(T.StructField(f.name, inc.dataType, True))
        else:
            raise ValueError(
                f"unsafe schema change for column {f.name!r}: "
                f"{f.dataType.simpleString()} → {inc.dataType.simpleString()} "
                "is not a supported widening"
            )
    for name, f in ((f.name, f) for f in incoming.fields if f.name in by_name):
        fields.append(T.StructField(name, f.dataType, True))  # add-column
    return T.StructType(fields)


def _conform(df: DataFrame, schema: T.StructType, keep: list[str]) -> DataFrame:
    """Project ``df`` onto the evolved schema (casting up-cast-safe
    columns, typed NULLs for columns the write omitted), carrying the
    ``keep`` bookkeeping columns (op/seq) through untouched. Runs
    BEFORE the bucket expression is attached, so an up-cast key is
    hashed at its stored type."""
    have = set(df.columns)
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols, *[F.col(c) for c in keep if c in have])


# SQL single-quoted string literal, with '' as the escaped quote.
_QUOTE_RE = re.compile(r"'(?:[^']|'')*'")


def _mask_strings(text: str) -> tuple[str, list[str]]:
    """Replace every quoted string literal with a \\x00N\\x00
    placeholder so tokenizing / AND-splitting can never be fooled by
    keywords or operators INSIDE a literal (a predicate like
    ``c = 'x and k=7'`` must not yield a fake ``k=7`` conjunct)."""
    lits: list[str] = []

    def repl(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    return _QUOTE_RE.sub(repl, text), lits


def _expr_tokens(expr: str) -> set[str]:
    """Identifier tokens of a SQL expression: string literals masked
    out first, and tokens immediately followed by ``(`` excluded —
    those are function calls, so a column merely NAMED like a
    function (``floor``, ``month``) is never confused with one."""
    masked, _ = _mask_strings(expr)
    return set(re.findall(r"[A-Za-z_]\w*\b(?!\s*\()", masked))


def _validate_partition_expr(expr: str, key_cols: list[str], columns: list[str]) -> None:
    """``partition_expr`` must be a pure function of the KEY columns:
    merge computes a row's bucket from the changelog image, so an
    expression over a mutable non-key column would route an update to
    a different bucket than the stored row and resurrect the stale
    copy (ADVICE r9, medium)."""
    tokens = _expr_tokens(expr)
    referenced = tokens & set(columns)
    bad = referenced - set(key_cols)
    if bad:
        raise ValueError(
            f"partition_expr references non-key column(s) {sorted(bad)}; "
            "it must be a pure function of the key columns "
            f"{key_cols} (a mutable column would misroute updates)"
        )
    if not (tokens & set(key_cols)):
        raise ValueError(
            f"partition_expr {expr!r} references no key column of {key_cols}"
        )


# --- predicate parsing for read-side pruning --------------------------

_UNPARSED = object()
_CONJUNCT_RE = re.compile(
    r"^\s*\(?\s*([A-Za-z_]\w*)\s*(==|=|<=|>=|<|>)\s*(.+?)\s*\)?\s*$"
)


def _parse_literal(text: str, lits: list[str]):
    """Literal of a masked conjunct: a string placeholder (optionally
    ``date``/``timestamp``-prefixed) resolves to the unquoted,
    ``''``-unescaped string; else int, then float; else unparsed."""
    t = text.strip()
    m = re.match(r"^(?:date|timestamp)?\s*\x00(\d+)\x00$", t, re.I)
    if m:
        raw = lits[int(m.group(1))]
        return raw[1:-1].replace("''", "'")
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        return _UNPARSED


_IN_RE = re.compile(r"^\s*\(?\s*([A-Za-z_]\w*)\s+in\s*\(([^()]*)\)\s*\)?\s*$", re.I)

# one literal token in MASKED text: a \x00N\x00 placeholder (optionally
# date/timestamp-prefixed) or a bare number — never contains spaces
# except after the type keyword
_LIT_TOKEN = r"(?:(?:date|timestamp)\s*)?[^\s()]+"
_BETWEEN_RE = re.compile(
    rf"\b([A-Za-z_]\w*)\s+between\s+({_LIT_TOKEN})\s+and\s+({_LIT_TOKEN})", re.I
)
_PAREN_GROUP_RE = re.compile(r"\(([^()]+)\)")
_EQ_DISJUNCT_RE = re.compile(
    rf"^\s*([A-Za-z_]\w*)\s*(?:==|=)\s*({_LIT_TOKEN})\s*$"
)


def _or_chain_to_in(body: str) -> str | None:
    """``k = 5 OR k = 9 OR k = 12`` (same column, equalities only) →
    the semantically identical ``k in (5, 9, 12)``; None when the
    chain is anything else (mixed columns, non-equality ops — those
    degrade to a full scan as before)."""
    parts = re.split(r"\bor\b", body, flags=re.I)
    if len(parts) < 2:
        return None
    col, vals = None, []
    for p in parts:
        m = _EQ_DISJUNCT_RE.match(p)
        if not m or (col is not None and m.group(1) != col):
            return None
        col = m.group(1)
        vals.append(m.group(2))
    return f"{col} in ({', '.join(vals)})"


def _conjuncts(predicate: str) -> list[tuple[str, str, object]]:
    """Conservatively parse ``predicate`` into (col, op, literal)
    conjuncts usable for pruning — op is a comparison, or ``"in"``
    with a literal list. String literals are masked FIRST so an
    ``and``/``or`` or comparison inside one can never fabricate a
    conjunct (mis-parsing must degrade pruning to a full read, never
    produce a wrong prune — the predicate is always re-applied as a
    row filter, but a filter cannot restore rows from a directory
    that was never read).

    Two common user shapes are REWRITTEN to already-supported forms
    before the conservative gate (VERDICT r10 item 5):
    ``col BETWEEN a AND b`` becomes the two range conjuncts
    ``col >= a AND col <= b``, and a same-column OR-of-equalities
    (parenthesized or the whole predicate) becomes its IN-list.
    Any ``NOT``, and any OR that isn't exactly such a chain, still
    degrades the whole predicate to a full scan — never a guess."""
    masked, lits = _mask_strings(predicate)
    if re.search(r"\bnot\b", masked, re.I):
        return []  # before the BETWEEN rewrite: 'x NOT BETWEEN …' must
        # degrade whole, not leave a mangled 'not' token behind
    masked = _BETWEEN_RE.sub(r"\1 >= \2 and \1 <= \3", masked)
    masked = _PAREN_GROUP_RE.sub(
        lambda m: f"({_or_chain_to_in(m.group(1)) or m.group(1)})", masked
    )
    if re.search(r"\bor\b", masked, re.I):
        whole = _or_chain_to_in(masked)
        if whole is None:
            return []
        masked = whole
    out = []
    for part in re.split(r"\band\b", masked, flags=re.I):
        m = _CONJUNCT_RE.match(part)
        if m:
            col, op, lit_text = m.groups()
            lit = _parse_literal(lit_text, lits)
            if lit is not _UNPARSED:
                out.append((col, "=" if op == "==" else op, lit))
            continue
        m = _IN_RE.match(part)
        if m:
            col, body = m.groups()
            vals = [_parse_literal(v, lits) for v in body.split(",")]
            if vals and not any(v is _UNPARSED for v in vals):
                out.append((col, "in", vals))
    return out


_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _literal_type_ok(lit, dtype) -> bool:
    """Pruning decisions are only taken when the literal's Python type
    and the column's Spark type compare the same way Spark's row
    filter will. Spark coerces the COLUMN to the literal's type in
    mixed comparisons (a numeric literal against a string column
    compares as double, so '05' == 5), while our bucket replay casts
    the LITERAL to the column type — mismatched classes could prune a
    bucket whose rows the filter would keep. Same-class comparisons
    (and string literals against temporal columns, which Spark casts
    literal-side) are safe."""
    if isinstance(lit, bool):
        return False
    if isinstance(lit, (int, float)):
        return isinstance(dtype, _NUMERIC_TYPES)
    if isinstance(lit, str):
        return isinstance(dtype, (T.StringType, T.DateType, T.TimestampType))
    return False


_MAX_KEY_COMBOS = 64


def _cast_for_lane(value, dtype, tz: str | None = None):
    """A pinned literal as Spark's cast to the key column's type would
    give it (Java semantics: float → integral truncates toward zero),
    ready for an Arrow column of that type. A date literal parses as
    ISO text and drops any time of day, as the cast does; a timestamp
    literal resolves under ``tz``, the session timezone the row filter
    parses it with, to UTC micros — without ``tz`` the lane refuses."""
    name = dtype.typeName()
    if name in ("byte", "short", "integer", "long"):
        return int(value)
    if name in ("float", "double"):
        return float(value)
    if name == "date":
        return _temporal(value).date()
    if name == "timestamp":
        if not isinstance(value, str) or tz is None:
            raise spark_hash.UnsupportedLane(
                "timestamp literal needs the session timezone"
            )
        return spark_hash.micros_of(spark_hash.timestamp_literal(value, tz))
    return value


def _resolve_candidate_buckets(
    manifest: dict, conjs: list[tuple[str, str, object]], tz: str | None = None
) -> list[int] | None:
    """If equality / IN-list conjuncts pin EVERY key column the
    partition expression references, replay the expression over each
    key combination and return the candidate bucket set — JVM-free,
    so ``read_table``, ``delete_from`` and the native source (whose
    planning has no SparkSession) share it. The layout is compiled by
    ``layout_replay.compile_layout``; each literal is cast to its
    column's type (:func:`_cast_for_lane`, timestamps under ``tz``)
    and all combinations hash at once as one Arrow table through
    ``ReplayableLayout.bucket_ids``. ``[]`` when the conjuncts
    contradict each other. None → no bucket pruning: a layout the
    replay cannot compute, a column left unpinned, a literal whose
    type class doesn't match its column's (see _literal_type_ok) or
    that the cast cannot carry, or more than ``_MAX_KEY_COMBOS``
    combinations (an unbounded IN-list should just scan)."""
    import itertools

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from .layout_replay import compile_layout

    if _schema_of(manifest) is None:
        return None
    try:
        layout = compile_layout(manifest)
    except (ValueError, KeyError):
        return None  # not replayable: stats-only pruning
    pinned: dict[str, list] = {}
    for col, op, lit in conjs:
        if op == "=":
            pinned.setdefault(col, []).append([lit])
        elif op == "in":
            pinned.setdefault(col, []).append(list(lit))
    # a column constrained twice (k = 5 AND k IN (5, 6)) must satisfy
    # BOTH: intersect the value lists
    values: dict[str, list] = {}
    for col, lists in pinned.items():
        vals = lists[0]
        for other in lists[1:]:
            vals = [v for v in vals if v in other]
        values[col] = vals
    fields = layout.fields
    if not all(f.name in values for f in fields):
        return None
    for f in fields:
        if not all(_literal_type_ok(v, f.dataType) for v in values[f.name]):
            return None
    combos = list(itertools.product(*[values[f.name] for f in fields]))
    if not combos:
        return []  # contradictory conjuncts: provably empty
    if len(combos) > _MAX_KEY_COMBOS:
        return None
    try:
        table = pa.table(
            {
                f.name: pa.array(
                    [_cast_for_lane(c[i], f.dataType, tz) for c in combos],
                    to_arrow_type(f.dataType),
                )
                for i, f in enumerate(fields)
            }
        )
        ids = layout.bucket_ids(table)
    except (spark_hash.UnsupportedLane, ValueError, TypeError, OverflowError):
        # e.g. 'k = 1e20' on a long key (OverflowError) or 'd = 'x''
        # on a date key: the literal has no exact lane — no prune
        return None
    return sorted(set(ids.tolist()))


def _temporal(value):
    """ISO text → datetime for order-faithful temporal comparison
    ('T' vs ' ' separators and date-vs-timestamp literals all
    normalize; a bare date becomes midnight, exactly Spark's cast)."""
    import datetime as _dt

    if not isinstance(value, str):
        raise TypeError(f"not a temporal literal: {value!r}")
    return _dt.datetime.fromisoformat(value.replace("T", " ").strip())


def _stats_keep(
    stats: dict, conjs: list[tuple[str, str, object]], dtypes: dict,
    session_tz: str | None = None,
) -> bool:
    """True unless some conjunct provably excludes every row of a
    directory given its [min, max] stats. Comparisons are taken ONLY
    when literal and column types compare the way Spark's row filter
    will (numeric/numeric, string/string, ISO-normalized temporal) —
    anything else keeps the directory, because pruning must never be
    wrong (lexicographic '2020-01-01T..' vs '2020-01-01 ..' was a
    real mis-prune, r10 review).

    Timestamp stats are UTC-micros ints (r12); a zoneless literal is
    resolved under ``session_tz`` — the zone Spark's row filter will
    apply — before comparing. No ``session_tz`` (or a DST-ambiguous
    literal) keeps the directory. Legacy ISO-string timestamp stats
    (pre-r12 manifests) keep their old naive comparison, which assumed
    one session timezone across write and read."""
    for col, op, lit in conjs:
        if col not in stats:
            continue
        dt = dtypes.get(col)
        mn, mx = stats[col]
        lits = lit if op == "in" else [lit]
        try:
            if isinstance(dt, T.TimestampType) and isinstance(mn, (int, float)):
                if session_tz is None or not all(isinstance(v, str) for v in lits):
                    continue
                lits = [
                    spark_hash.micros_of(
                        spark_hash.timestamp_literal(v, session_tz)
                    )
                    for v in lits
                ]
                mn, mx = int(mn), int(mx)
            elif isinstance(dt, (T.DateType, T.TimestampType)):
                mn, mx = _temporal(mn), _temporal(mx)
                lits = [_temporal(v) for v in lits]
                if isinstance(dt, T.DateType):
                    # Spark casts the LITERAL to DATE — dropping any
                    # time-of-day — before comparing against a date
                    # column, so the stats comparison must truncate
                    # too: a '2020-01-05 10:00:00' literal matches
                    # rows with d = 2020-01-05, but comparing the
                    # 10:00 datetime against the midnight min/max
                    # dropped that directory (ADVICE r10, high).
                    lits = [
                        v.replace(hour=0, minute=0, second=0, microsecond=0)
                        for v in lits
                    ]
            elif isinstance(dt, T.StringType):
                if not all(isinstance(v, str) for v in lits):
                    continue
            elif isinstance(dt, _NUMERIC_TYPES):
                if isinstance(mn, str) or any(
                    isinstance(v, (str, bool)) for v in lits
                ):
                    continue
                if mn != mn or mx != mx:
                    # legacy NaN-poisoned stats (pre-r15 manifests):
                    # NaN Python-compares False against everything,
                    # which would wrongly prune — keep the directory
                    # (see _bucket_stats)
                    continue
            else:
                continue
            if op in ("=", "in") and not any(mn <= v <= mx for v in lits):
                return False
            if op == "<" and not (mn < lits[0]):
                return False
            if op == "<=" and not (mn <= lits[0]):
                return False
            if op == ">" and not (mx > lits[0]):
                return False
            if op == ">=" and not (mx >= lits[0]):
                return False
        except (TypeError, ValueError):
            continue
    return True


def resolve_read_dirs(
    spark: SparkSession,
    path: str,
    predicate: str | None = None,
    version: int | None = None,
    manifest: dict | None = None,
) -> list[str]:
    """The exact data directories a ``read_table`` with this predicate
    will open — the pruning contract, exposed so tests can pin that a
    point lookup touches ONLY its bucket (the PartitionFilters
    discipline of tests/test_layout.py). Pass ``manifest`` to pin a
    snapshot already resolved by the caller (read_table does — one
    version decides schema, directories, and pruning together). Runs
    no Spark job: key-equality conjuncts resolve through
    :func:`_resolve_candidate_buckets`, and ``spark`` supplies only
    the session timezone that literals resolve under."""
    if manifest is None:
        manifest = read_manifest(path, version)
    candidates = sorted(int(b) for b in manifest["buckets"])
    schema = _schema_of(manifest)
    # without the persisted schema, literal types can't be matched to
    # column types, and a type-coerced comparison could prune wrongly
    # — pre-r10 manifests therefore read unpruned
    conjs = _conjuncts(predicate) if predicate and schema is not None else []
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    if conjs:
        pinned = _resolve_candidate_buckets(manifest, conjs, session_tz)
        if pinned is not None:
            candidates = [b for b in pinned if str(b) in manifest["buckets"]]
    dtypes = {f.name: f.dataType for f in schema.fields} if schema else {}
    all_stats = manifest.get("stats", {})
    dirs = []
    for b in candidates:
        for rel in manifest["buckets"].get(str(b), []):
            st = all_stats.get(rel, {}).get(str(b), {})
            if not conjs or _stats_keep(st, conjs, dtypes, session_tz):
                dirs.append(os.path.join(path, rel, f"{_BUCKET_COL}={b}"))
    return dirs


def create_table(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_expr: str | None = None,
    n_buckets: int = 16,
    aux: dict[str, DataFrame] | None = None,
    properties: dict | None = None,
) -> dict:
    """Seed a manifest table from a snapshot DataFrame: compute each
    row's partition via ``partition_expr`` (a deterministic Spark SQL
    expression over the KEY columns ONLY — validated here; hash
    buckets by default, a key-range expression when the changelog has
    locality), write all partitions under a v1 data directory, commit
    manifest v1. The full column schema is persisted in the manifest
    (empty reads reconstruct a typed empty frame; predicate pruning
    casts literals to the stored types)."""
    expr = partition_expr or default_partition_expr(key_cols, n_buckets)
    _validate_partition_expr(expr, key_cols, df.columns)
    if current_version(path) != 0:
        raise ValueError(f"manifest table already exists under {path}")
    manifest = {
        "version": 1,
        "op": "create",
        "partition_expr": expr,
        "key_cols": key_cols,
        "columns": df.columns,
        "schema": df.schema.json(),
        # provenance: the creating session's timezone. NOT load-bearing
        # for pruning — timestamp stats persist as UTC micros and
        # timestamp literals resolve under the READER's session zone,
        # so pruning is correct across timezones by construction —
        # but recorded so operators can audit mixed-zone pipelines.
        "writer_timezone": df.sparkSession.conf.get("spark.sql.session.timeZone"),
        # bucket → LIST of version directories holding its data (the
        # hive leaf is appended at read time); absent buckets are
        # empty. One entry after create/merge/compact; appends add
        # entries until the next compact.
        "buckets": {},
        "stats": {},
    }
    if properties:
        manifest["properties"] = dict(properties)
    with_bucket = df.withColumn(_BUCKET_COL, _bucket_col(manifest))
    rel = _new_rel(1)
    _write_buckets(with_bucket, path, rel)
    written = _written_buckets(path, rel)
    manifest["buckets"] = {str(b): [rel] for b in written}
    manifest["stats"] = {rel: _collect_stats(path, rel, df.schema)}
    if aux:
        manifest["aux"] = {}
        for name, adf in aux.items():
            aux_rel = os.path.join(rel, f"_aux_{name}")
            adf.write.mode("overwrite").parquet(os.path.join(path, aux_rel))
            manifest["aux"][name] = aux_rel
    _commit(path, manifest)
    return manifest


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate: str | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Snapshot read at the given (default latest) committed version:
    exactly the manifest's directories, nothing discovered by listing.
    With ``predicate`` (a Spark SQL boolean expression), the scan is
    PRUNED to the directories that can contain matching rows —
    key-equality predicates resolve through the partition expression
    to one bucket, range predicates prune on per-bucket min/max stats
    — and the predicate is re-applied as a row filter, so the result
    equals an unpruned read + filter by construction. An empty table
    (all buckets empty, or everything pruned) returns an empty frame
    with the persisted schema. The version is resolved ONCE — schema,
    directory set, and pruning all come from the same snapshot even
    if a writer commits mid-call. ``as_of`` (a unix timestamp) reads
    the newest version committed at or before that instant — the
    timestamp face of time travel; mutually exclusive with
    ``version``."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_at(path, as_of)
    manifest = read_manifest(path, version)
    return _read_from_manifest(spark, path, manifest, predicate)


def _read_from_manifest(
    spark: SparkSession, path: str, manifest: dict, predicate: str | None = None
) -> DataFrame:
    """``read_table``'s scan half, for a caller that already resolved
    the manifest dict — ``read_table`` itself, and ``table_group``'s
    member reads (a member's entry in the GROUP manifest has the same
    shape as a standalone manifest, so the whole pruning brain is
    shared)."""
    dirs = resolve_read_dirs(spark, path, predicate, manifest=manifest)
    if not dirs:
        schema = _schema_of(manifest)
        if schema is None:
            raise FileNotFoundError(
                f"manifest v{manifest['version']} lists no data under {path} "
                "and persists no schema (pre-r10 manifest)"
            )
        return spark.createDataFrame([], schema).select(*manifest["columns"])
    read_buckets = sorted({int(d.rsplit("=", 1)[1]) for d in dirs})
    df = _apply_dvs(
        spark, path, manifest, _reader(spark, manifest).parquet(*dirs), read_buckets
    ).select(*manifest["columns"])
    return df.filter(predicate) if predicate else df


def merge_into(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    op_col: str = "op",
    seq_col: str | None = "seq",
    aux: dict[str, DataFrame] | None = None,
    conflict_retries: int = 3,
) -> dict:
    """Transactional MERGE of a CDC changelog into the table: rewrite
    ONLY key-buckets the changelog touches, commit one new manifest.

    Steps (per the module docstring's design):
      1. touched = distinct buckets of the changelog keys — a ≤
         n_buckets-row collect, bounded by construction (NULL keys
         are rejected here, before anything is written);
      2. read ONLY those buckets' current directories;
      3. operators/cdc.cdc_merge of the changelog into that subset
         (one left-anti join, changelog-sized right side);
      4. write the merged buckets under a writer-unique new version
         directory; untouched buckets' entries are carried over
         UNCHANGED (their files are never read, rewritten, or moved);
      5. atomically publish manifest v{N} put-if-absent. If another
         writer won the version, first try a REBASE (r14, logical
         conflict detection — the public formats' optimistic
         concurrency): when the winner touched DISJOINT buckets (no
         bucket overlap, no DV on our buckets, no layout/schema
         change, no staged aux), our already-staged bucket images are
         still exactly right — fold them onto the fresh manifest and
         republish, reusing the staged data with zero re-read or
         re-write. Only a genuine overlap retries the WHOLE merge
         from the new latest manifest (up to ``conflict_retries``
         times) — the losing attempt's data directory is reclaimed,
         and no committed data is ever lost
         (tests/test_merge_rebase.py pins both paths plus the
         no-resurrection DV case).

    ``aux`` commits side tables ATOMICALLY WITH the merge: each named
    DataFrame is written under the same version directory and the one
    manifest publish lands snapshot + aux together — the mechanism
    that closes streaming_view_maintenance's documented
    crash-between-two-overwrites window (a crash before the publish
    leaves BOTH the old snapshot and the old view; a replay then
    applies the batch exactly once). Aux plans may read the
    CURRENTLY-committed versions of this table — data files are
    immutable, so writing the new version never disturbs them."""
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        try:
            return _merge_once(spark, path, changes, op_col, seq_col, aux)
        except CommitConflict as exc:
            last = exc
    raise last


def _merge_once(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    op_col: str,
    seq_col: str | None,
    aux: dict[str, DataFrame] | None,
) -> dict:
    manifest = read_manifest(path)
    new_manifest, rel = _merge_stage(
        spark, path, manifest, changes, op_col, seq_col, aux,
        manifest["version"] + 1,
    )
    if new_manifest is None:
        # empty batch: no new version, nothing written — return the
        # COMMITTED manifest, not the locally-evolved dict
        return read_manifest(path)
    try:
        _commit(path, new_manifest)
        return new_manifest
    except CommitConflict:
        pass
    # Optimistic-concurrency REBASE (r14): the winner took our version
    # number, but if it touched DISJOINT buckets our merged images are
    # still exactly the right new state for OUR buckets (their inputs —
    # the base snapshot's files for those buckets — are untouched and
    # immutable), so fold our bucket entries onto the fresh manifest
    # and republish WITHOUT re-reading or re-writing any data. Logical
    # conflict detection, the public lakehouse formats' shape: only an
    # actual overlap (same bucket, a DV on our bucket, a layout or
    # schema change, or snapshot-derived aux) forces the full re-run.
    for _ in range(4):  # a racing burst moves the head several times
        fresh = read_manifest(path)
        rebased = _rebase_merge(manifest, new_manifest, fresh)
        if rebased is None:
            break
        try:
            _commit(path, rebased)
            return rebased
        except CommitConflict:
            continue
    # a genuine overlap (or rebase burst exhausted): the staged data
    # was computed against a superseded snapshot — useless to the full
    # retry; reclaim it now rather than leaving it for vacuum's
    # age-gated orphan sweep
    if rel is not None:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    raise CommitConflict(
        f"merge under {path} lost the version race and could not be "
        "rebased (overlapping buckets, DV/layout/schema change, or "
        "staged aux); retrying the whole merge from the latest manifest"
    )


def _rebase_merge(base: dict, staged: dict, fresh: dict) -> dict | None:
    """Fold the bucket entries a staged merge produced against
    ``base`` onto the ``fresh`` (winner's) manifest — or return None
    when the rebase would be unsound and the merge must re-run:

    - the winner changed the partition layout (our files are bucketed
      under the old expression) or the schema (either direction:
      silently dropping our evolution, or publishing our old-schema
      images as the table's new schema-bearing state, would surprise);
    - the winner touched any bucket we rewrote, including via a
      deletion vector (our image was computed WITHOUT that change —
      publishing it would resurrect deleted rows / lose updates);
    - we staged aux payloads (snapshot-derived by contract — the
      streaming view shape — so they must be recomputed against the
      winner's snapshot, exactly the group replace-thunk rule)."""
    if fresh.get("partition_expr") != base.get("partition_expr"):
        return None
    if (
        fresh.get("schema") != base.get("schema")
        or fresh.get("columns") != base.get("columns")
        or staged.get("schema") != base.get("schema")
        or staged.get("columns") != base.get("columns")
    ):
        return None
    if staged.get("aux", {}) != base.get("aux", {}):
        return None
    ours = {
        b
        for b in set(base["buckets"]) | set(staged["buckets"])
        if base["buckets"].get(b) != staged["buckets"].get(b)
    }
    base_dvs = base.get("dvs", {})
    fresh_dvs = fresh.get("dvs", {})
    theirs = {
        b
        for b in set(base["buckets"]) | set(fresh["buckets"])
        if base["buckets"].get(b) != fresh["buckets"].get(b)
    } | {
        b
        for b in set(base_dvs) | set(fresh_dvs)
        if base_dvs.get(b) != fresh_dvs.get(b)
    }
    if ours & theirs:
        return None
    buckets = {b: list(r) for b, r in fresh["buckets"].items()}
    dvs = {b: list(r) for b, r in fresh_dvs.items()}
    for b in ours:
        ent = staged["buckets"].get(b)
        if ent is None:
            buckets.pop(b, None)  # the merge deleted the bucket empty
        else:
            buckets[b] = list(ent)
        # the merge folded this bucket's base DVs into its rewrite;
        # the winner did not touch them (checked above)
        dvs.pop(b, None)
    stats = dict(fresh.get("stats", {}))
    staged_stats = staged.get("stats", {})
    live = {r for rels in buckets.values() for r in rels}
    for r in live - set(stats):
        if r in staged_stats:
            stats[r] = staged_stats[r]
    stats = {r: s for r, s in stats.items() if r in live}
    return {
        **fresh,
        "version": fresh["version"] + 1,
        "op": "merge",
        "buckets": buckets,
        "stats": stats,
        "dvs": dvs,
    }


def _merge_stage(
    spark: SparkSession,
    path: str,
    manifest: dict,
    changes: DataFrame,
    op_col: str,
    seq_col: str | None,
    aux: dict[str, DataFrame] | None,
    new_version: int,
) -> tuple[dict | None, str | None]:
    """The data-staging + manifest-building half of a merge, COMMIT
    EXCLUDED: everything is written under a writer-unique directory of
    ``path`` and the would-be manifest dict is returned for the caller
    to publish — ``_merge_once`` publishes it to this table's own log;
    ``table_group.group_transact`` embeds it (with siblings) in ONE
    group commit so several tables' merges land atomically (VERDICT
    r12 item 7). Returns (None, None) for an empty batch that changes
    nothing, and a metadata-only manifest (no data staged, rel None)
    for an empty batch that evolves the schema: an added column must
    survive the batch, while an unchanged table burns no version."""
    from ..operators import cdc

    key_cols = manifest["key_cols"]

    # schema evolution (VERDICT r10 item 1): validate the changelog's
    # data columns against the persisted schema and evolve it
    # (add-column / safe widening) under the SAME put-if-absent commit
    # as the data; unsafe changes raise before anything is written.
    manifest = dict(manifest)
    base_schema_json = manifest.get("schema")
    old_schema = _schema_of(manifest)
    bookkeeping = [op_col] + ([seq_col] if seq_col else [])
    if old_schema is not None:
        incoming = T.StructType(
            [f for f in changes.schema.fields if f.name not in bookkeeping]
        )
        evolved = evolve_schema(old_schema, incoming, key_cols)
        changes = _conform(changes, evolved, keep=bookkeeping)
        if evolved != old_schema:
            manifest["schema"] = evolved.json()
            manifest["columns"] = [f.name for f in evolved.fields]

    batch = changes.withColumn(_BUCKET_COL, _bucket_col(manifest))
    touched = sorted(
        (r[_BUCKET_COL] for r in batch.select(_BUCKET_COL).distinct().collect()),
        key=lambda b: (b is None, b),
    )
    if any(b is None for b in touched):
        raise ValueError(
            "manifest table keys must be non-null: a changelog row's "
            "partition expression evaluated to NULL (null key column?)"
        )
    if not touched and not aux:
        if manifest.get("schema") == base_schema_json:
            return None, None  # empty batch: nothing staged
        return {**manifest, "version": new_version, "op": "merge"}, None

    buckets = dict(manifest["buckets"])
    stats = dict(manifest.get("stats", {}))
    rel = _new_rel(new_version)
    if touched:
        existing = [b for b in touched if str(b) in manifest["buckets"]]
        dirs = _bucket_dirs(path, manifest, existing)
        if dirs:
            current = (
                _apply_dvs(  # deleted rows must not resurrect through a merge
                    spark, path, manifest,
                    _reader(spark, manifest).parquet(*dirs), existing,
                )
                .select(*manifest["columns"])
                .withColumn(_BUCKET_COL, _bucket_col(manifest))
            )
            merged = cdc.cdc_merge(
                current,
                batch,
                key_cols + [_BUCKET_COL],  # bucket is key-functional; keeps it in scope
                op_col=op_col,
                seq_col=seq_col,
            )
        else:
            # first write into brand-new buckets: still resolve per-key
            # latest before dropping the op/seq bookkeeping
            resolved = (
                cdc.latest_changes(batch, key_cols + [_BUCKET_COL], seq_col)
                if seq_col
                else batch
            )
            merged = resolved.filter(F.col(op_col) != "D").drop(
                op_col, *([seq_col] if seq_col else [])
            )
        _write_buckets(merged, path, rel)
        written = set(_written_buckets(path, rel))
        for b in touched:
            if b in written:
                buckets[str(b)] = [rel]  # the merge consolidates the bucket
            else:
                # every row in the bucket was deleted — drop its entry
                buckets.pop(str(b), None)
        stats[rel] = _collect_stats(path, rel, merged.schema)
    # a merged bucket is fully rewritten with its deletion vectors
    # already applied — clear them
    dvs = {b: list(rels) for b, rels in manifest.get("dvs", {}).items()}
    for b in touched:
        dvs.pop(str(b), None)

    # aux side tables land under the SAME version directory, after the
    # bucket write (whose mode=overwrite would clear the directory) and
    # BEFORE the manifest publish — data first, commit last.
    aux_entry = dict(manifest.get("aux", {}))
    for name, df in (aux or {}).items():
        aux_rel = os.path.join(rel, f"_aux_{name}")
        df.write.mode("overwrite").parquet(os.path.join(path, aux_rel))
        aux_entry[name] = aux_rel

    # keep only stats for directories some bucket still references —
    # superseded rels' entries would otherwise accumulate forever and
    # every commit/read would pay O(all versions ever) of JSON
    live_rels = {r for rels in buckets.values() for r in rels}
    stats = {r: s for r, s in stats.items() if r in live_rels}

    new_manifest = {
        **manifest, "version": new_version, "op": "merge",
        "buckets": buckets, "stats": stats, "dvs": dvs,
    }
    if aux_entry:
        new_manifest["aux"] = aux_entry
    return new_manifest, rel


def read_changed_sides(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The (old, new) visible-row frames of exactly the buckets that
    CHANGED between two committed versions — the primitive under
    ``read_changes`` and the cheapest possible input for a downstream
    delta-rule maintainer (``ivm.cdf_view_step`` unions new at +1 /
    old at −1 and aggregates: unchanged rows cancel, no exceptAll, no
    join). A bucket counts as changed when its directory list OR its
    deletion-vector list differs; each side applies ITS OWN deletion
    vectors and projects through the NEWER version's schema, so a
    range spanning a schema-evolution boundary yields old images in
    the evolved shape (added columns → NULL, widened → up-cast)."""
    m0 = read_manifest(path, from_version)
    m1 = read_manifest(path, to_version)
    return _changed_sides(spark, path, m0, m1)


def _changed_sides(
    spark: SparkSession, path: str, m0: dict, m1: dict
) -> tuple[DataFrame, DataFrame]:
    """``read_changed_sides`` for callers that already resolved the
    two manifest dicts — ``table_group.read_group_changes`` passes
    synthesized member manifests here (a member entry + the group
    version), so group members get the same changed-bucket-bounded
    feed."""
    if m1["version"] < m0["version"]:
        raise ValueError(
            f"to_version v{m1['version']} precedes from_version v{m0['version']}"
        )
    cols = m1["columns"]
    schema = _schema_of(m1)
    if schema is None:
        raise FileNotFoundError("read_changes needs the persisted schema (r10+ table)")
    changed = sorted(
        int(b)
        for b in set(m0["buckets"]) | set(m1["buckets"])
        if m0["buckets"].get(b) != m1["buckets"].get(b)
        # a DV-mode delete changes a bucket's visible rows without
        # touching its directory list — the feed must diff it too
        or m0.get("dvs", {}).get(b) != m1.get("dvs", {}).get(b)
    )

    def _side(man: dict) -> DataFrame:
        side_buckets = [b for b in changed if str(b) in man["buckets"]]
        dirs = _bucket_dirs(path, man, side_buckets)
        if not dirs:
            return spark.createDataFrame([], schema).select(*cols)
        return _apply_dvs(
            spark, path, man, spark.read.schema(schema).parquet(*dirs), side_buckets
        ).select(*cols)

    return _side(m0), _side(m1)


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    op_col: str = "op",
    preimages: bool = False,
) -> DataFrame:
    """Change feed between two committed versions — the CDF face of
    the format (the public lakehouse designs expose the same thing):
    a changelog of ``(columns..., op)`` rows with op ``"U"`` for every
    row present in ``to_version`` but not byte-identical-present in
    ``from_version`` (inserts AND new images of updates) and ``"D"``
    for keys that disappeared. Applying it with
    ``operators/cdc.cdc_merge(snapshot@from, changes, key_cols,
    seq_col=None)`` reconstructs ``snapshot@to`` exactly — the
    round-trip contract tests/test_manifest.py pins.

    I/O is bounded by CHANGED buckets only: manifests name each
    bucket's directories, so buckets whose directory lists are equal
    between the two versions are never read (the read-side mirror of
    the bounded-write merge). Within changed buckets the diff is one
    ``exceptAll`` + one left-anti join — shuffles sized by the
    changed-bucket data, never the table. Requires both manifests to
    still be retained (``vacuum`` retention) and the persisted schema
    (any r10+ table)."""
    m0 = read_manifest(path, from_version)
    m1 = read_manifest(path, to_version)
    return _changes_core(spark, path, m0, m1, op_col, preimages)


def _changes_core(
    spark: SparkSession,
    path: str,
    m0: dict,
    m1: dict,
    op_col: str,
    preimages: bool,
) -> DataFrame:
    key_cols = m1["key_cols"]
    old, new = _changed_sides(spark, path, m0, m1)
    upserts = new.exceptAll(old).withColumn(op_col, F.lit("U"))
    if not preimages:
        deletes = old.join(new.select(*key_cols), key_cols, "left_anti").withColumn(
            op_col, F.lit("D")
        )
        return upserts.unionByName(deletes)
    # ``preimages=True`` additionally emits op 'UP' rows — the OLD
    # image of every surviving-key row that changed (Delta's CDF
    # update_preimage shape). A downstream aggregate maintainer can
    # then retract preimages and assert 'U' rows with NO join against
    # the snapshot at all (operators/ivm.cdf_view_step) — the feed
    # itself carries everything, still changed-bucket-bounded.
    old_diff = old.exceptAll(new)
    deletes = old_diff.join(new.select(*key_cols), key_cols, "left_anti").withColumn(
        op_col, F.lit("D")
    )
    pre = old_diff.join(new.select(*key_cols), key_cols, "left_semi").withColumn(
        op_col, F.lit("UP")
    )
    return upserts.unionByName(deletes).unionByName(pre)


def read_aux(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    schema: str | T.StructType | None = None,
) -> DataFrame:
    """Read an aux side table at the given (default latest) committed
    version — e.g. the materialized view committed atomically with its
    snapshot by ``merge_into(..., aux=...)``, or an append-only aux
    LOG grown by ``append_aux_logs`` (whose entries are LISTS of
    directories, one per committed batch). Pass ``schema`` on hot
    paths to skip the per-call footer inference (and to type an
    empty log)."""
    manifest = read_manifest(path, version)
    rels = manifest["aux"][name]
    rels = rels if isinstance(rels, list) else [rels]
    if not rels:
        if schema is None:
            raise ValueError(f"aux log {name!r} is empty; pass schema to type it")
        struct = (
            T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        return spark.createDataFrame([], struct)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*[os.path.join(path, r) for r in rels])


_AUX_TAG = "_aux_"  # partition column of the tagged-union log write:
# hive leaves read "_aux_=<name>", whose basename carries the same
# "_aux_" prefix vacuum already recognizes for overwrite-style aux dirs


def _write_aux_logs(frames: dict[str, DataFrame], path: str, rel: str) -> dict[str, str]:
    """ONE tagged-union write of several heterogeneous frames under
    ``path/rel`` (superset schema, typed NULLs for columns a frame
    lacks, hive-partitioned by the table tag) — the single Spark job
    that lands every log table's batch together. Returns
    name → written leaf rel. Shared column names must agree on type;
    parquet's column pruning makes the NULL superset columns free for
    a reader that selects only its table's columns."""
    fields: dict[str, T.StructField] = {}
    for name, df in frames.items():
        for f in df.schema.fields:
            if f.name in fields and fields[f.name].dataType != f.dataType:
                raise ValueError(
                    f"aux log column {f.name!r} has conflicting types across "
                    "tables; rename one side"
                )
            fields.setdefault(f.name, f)
    sup = list(fields.values())
    out = None
    for name, df in frames.items():
        have = set(df.columns)
        sel = df.select(
            *[
                (F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in sup
            ],
            F.lit(name).alias(_AUX_TAG),
        )
        out = sel if out is None else out.unionByName(sel)
    (
        out.repartition(max(1, len(frames)), F.col(_AUX_TAG))
        .write.mode("overwrite")
        .partitionBy(_AUX_TAG)
        .parquet(os.path.join(path, rel))
    )
    vdir = os.path.join(path, rel)
    return {
        d.split("=", 1)[1]: os.path.join(rel, d)
        for d in os.listdir(vdir)
        if d.startswith(f"{_AUX_TAG}=")
    }


def create_aux_logs(
    spark: SparkSession, path: str, frames: dict[str, DataFrame]
) -> dict:
    """Seed a table whose payload is a SET of append-only aux logs
    (no keyed snapshot): one tagged-union write, one v1 commit. The
    ingest-index store (digests + postings + decisions) is the
    motivating user — three tables a streaming service must grow in
    lockstep. Tables created this way serve ``read_aux`` /
    ``append_aux_logs`` / ``history`` / ``vacuum``; there is no
    snapshot for ``read_table`` to read."""
    if current_version(path) != 0:
        raise ValueError(f"manifest table already exists under {path}")
    rel = _new_rel(1)
    written = _write_aux_logs(frames, path, rel)
    manifest = {
        "version": 1,
        "op": "create",
        "key_cols": [],
        "partition_expr": "",
        "columns": [],
        "buckets": {},
        "stats": {},
        "aux": {name: ([written[name]] if name in written else []) for name in frames},
    }
    _commit(path, manifest)
    return manifest


def append_aux_logs(
    spark: SparkSession,
    path: str,
    frames: dict[str, DataFrame],
    conflict_retries: int = 3,
) -> dict:
    """Atomically APPEND one batch to several aux log tables: ONE
    tagged-union write job, ONE put-if-absent manifest publish
    (VERDICT r10 item 6 — the streaming ingest gate's three separate
    per-batch parquet appends, two index tables + decisions, become
    one action and one commit; a crash anywhere leaves every log at
    the previous version together, never a torn index). Batch data is
    written once; a losing version race retries only the manifest
    build, reusing the written directory (cf. ``append_into``)."""
    first = read_manifest(path)
    rel = _new_rel(first["version"] + 1)
    written = _write_aux_logs(frames, path, rel)

    last: CommitConflict | None = None
    manifest = first
    for attempt in range(max(1, conflict_retries + 1)):
        if attempt:
            manifest = read_manifest(path)
        aux = {
            name: (list(v) if isinstance(v, list) else [v])
            for name, v in manifest.get("aux", {}).items()
        }
        for name, leaf in written.items():
            aux.setdefault(name, []).append(leaf)
        new_manifest = {
            **manifest,
            "version": manifest["version"] + 1,
            "op": "aux_append",
            "aux": aux,
        }
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
    shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    raise last


def append_into(
    spark: SparkSession, path: str, rows: DataFrame, conflict_retries: int = 3
) -> dict:
    """Transactional APPEND: write the new rows' buckets under one
    fresh writer-unique version directory and ADD it to each touched
    bucket's directory list — no existing file is read, rewritten, or
    moved (the ingest-sink shape: per-batch cost is O(batch) only).
    The caller guarantees key-uniqueness against existing data if the
    table is meant to stay a keyed snapshot (append is the raw-log
    face; ``merge_into`` is the keyed face). Buckets accumulate one
    directory per append until ``compact`` folds them. The batch is
    written ONCE; a losing version race retries only the manifest
    build against the new latest version, reusing the already-written
    data directory (append data references no version-dependent
    state — unlike a losing merge, which must recompute)."""
    first = read_manifest(path)
    first_schema = _schema_of(first)
    if first_schema is not None:
        # same evolution contract as merge_into: validate, evolve,
        # up-cast the batch before bucketing (key types replay)
        written_schema = evolve_schema(first_schema, rows.schema, first["key_cols"])
        batch = _conform(rows, written_schema, keep=[])
    else:
        written_schema = None
        batch = rows.select(*first["columns"])
    batch = batch.withColumn(_BUCKET_COL, _bucket_col(first))
    rel = _new_rel(first["version"] + 1)  # the uuid token is the identity; the
    # version prefix is just a human-readable hint of when it was staged
    _write_buckets(batch, path, rel)
    written = _written_buckets(path, rel)
    if not written:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        return first  # empty batch: no new version
    rel_stats = _collect_stats(path, rel, batch.schema)

    last: CommitConflict | None = None
    manifest = first
    for attempt in range(max(1, conflict_retries + 1)):
        if attempt:
            manifest = read_manifest(path)
        new_version = manifest["version"] + 1
        buckets = {b: list(rels) for b, rels in manifest["buckets"].items()}
        for b in written:
            buckets.setdefault(str(b), []).append(rel)
        stats = dict(manifest.get("stats", {}))
        stats[rel] = rel_stats
        live_rels = {r for rels in buckets.values() for r in rels}
        stats = {r: s for r, s in stats.items() if r in live_rels}
        new_manifest = {
            **manifest, "version": new_version, "op": "append",
            "buckets": buckets, "stats": stats,
        }
        if written_schema is not None:
            # a racing winner may itself have evolved the schema —
            # re-merge the written files' schema into the LATEST one
            # (both are committed facts; evolve is associative over
            # add-column/widening, and key types are immutable)
            latest = evolve_schema(
                _schema_of(manifest), written_schema, manifest["key_cols"]
            )
            if latest != _schema_of(manifest):
                new_manifest["schema"] = latest.json()
                new_manifest["columns"] = [f.name for f in latest.fields]
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
    shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    raise last


_DV_SCHEMA = "_dv_file string, _dv_pos long"
# a data file's identity RELATIVE to the table root (manifests store
# relative paths so tables relocate; absolute _metadata.file_path
# would pin tombstones to one mount point)
_DV_FILE_EXPR = "regexp_extract(_metadata.file_path, '(data/v.*)$', 1)"


def _dv_dirs(path: str, manifest: dict, buckets: list[int]) -> list[str]:
    dv_map = manifest.get("dvs", {})
    return [
        os.path.join(path, rel, f"{_BUCKET_COL}={b}")
        for b in buckets
        for rel in dv_map.get(str(b), [])
    ]


def _apply_dvs(
    spark: SparkSession,
    path: str,
    manifest: dict,
    scan: DataFrame,
    buckets: list[int],
) -> DataFrame:
    """Filter a RAW file scan through the deletion vectors of the
    given buckets: tombstones identify rows by (relative file path,
    parquet row index) — ``_metadata.row_index``, the stable row
    identity the public formats' DVs use — so duplicate-key rows
    (append-log tables) delete individually, which key-based
    tombstones could not guarantee. One broadcast anti join; DV
    frames are as small as the deletes themselves, and every
    bucket-rewriting op folds + clears them, bounding their count.
    Must run on the scan BEFORE projection (``_metadata`` is only
    available on the file source)."""
    dirs = _dv_dirs(path, manifest, buckets)
    if not dirs:
        return scan
    dv = spark.read.schema(_DV_SCHEMA).parquet(*dirs)
    keyed = scan.withColumn("_dv_file", F.expr(_DV_FILE_EXPR)).withColumn(
        "_dv_pos", F.col("_metadata.row_index")
    )
    return keyed.join(F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti").drop(
        "_dv_file", "_dv_pos"
    )


def delete_from(
    spark: SparkSession,
    path: str,
    predicate: str,
    conflict_retries: int = 3,
    mode: str = "copy-on-write",
) -> dict:
    """Transactional row-level DELETE (VERDICT r10 item 3): remove
    every row where ``predicate`` is TRUE (SQL DELETE semantics —
    NULL-predicate rows are kept), committing one new manifest
    put-if-absent.

    I/O is bounded by the SAME pruning as reads: the predicate
    resolves through ``_conjuncts`` → key-bucket replay → per-bucket
    min/max stats, and only DIRECTORIES that can contain matching
    rows are read and rewritten — at directory granularity, so a
    bucket whose appended segments straddle the predicate rewrites
    only the overlapping segments and keeps the rest byte-identical
    (test-pinned). Pruning here is correctness-critical in the
    OPPOSITE direction from reads (a wrongly-excluded directory would
    leave rows undeleted), which is exactly why it reuses the
    read-path machinery whose keep-on-uncertainty bias is already
    fuzz-pinned: every decision errs toward REWRITING a directory
    (harmless — its rows are filtered by the same predicate Spark's
    row filter evaluates), never toward skipping one.

    Write amplification: the default ``copy-on-write`` mode rewrites
    at directory granularity — a 1-row delete rewrites its whole
    bucket directory (bucket_size bytes for 1 row; measured and
    pinned in tests). ``mode="dv"`` is the production form for small
    scattered deletes: DELETION VECTORS (the Delta / Iceberg-v3
    design) — matching rows are recorded as (relative file path,
    parquet row index) tombstones under the same pruning, committed
    put-if-absent WITHOUT touching any data file, and merged back at
    read time by one broadcast anti join. A 1-row DV delete writes a
    1-row tombstone file; every bucket-rewriting op (merge, compact,
    copy-on-write delete) folds the bucket's DVs into the rewrite and
    clears them, so read-side DV cost is bounded by deletes since the
    last rewrite. Both modes give identical answers (test-pinned
    against each other and the DuckDB oracle). An unparseable
    predicate degrades to scanning every directory — same answers."""
    if mode not in ("copy-on-write", "dv"):
        raise ValueError(f"unknown delete mode {mode!r}")
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        try:
            if mode == "dv":
                return _delete_dv_once(spark, path, predicate)
            return _delete_once(spark, path, predicate)
        except CommitConflict as exc:
            last = exc
    raise last


def _delete_targets(
    spark: SparkSession, path: str, manifest: dict, predicate: str
) -> dict[int, list[str]]:
    """bucket → directories that may contain predicate-matching rows,
    via the same pruning as reads (keep-on-uncertainty: a wrongly
    kept directory is re-filtered, a wrongly skipped one would leave
    rows undeleted — so every decision errs toward keeping)."""
    schema = _schema_of(manifest)
    conjs = _conjuncts(predicate) if schema is not None else []
    candidates = sorted(int(b) for b in manifest["buckets"])
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    if conjs:
        pinned = _resolve_candidate_buckets(manifest, conjs, session_tz)
        if pinned is not None:
            candidates = [b for b in pinned if str(b) in manifest["buckets"]]
    dtypes = {f.name: f.dataType for f in schema.fields} if schema else {}
    all_stats = manifest.get("stats", {})
    touched: dict[int, list[str]] = {}
    for b in candidates:
        rels_in = [
            r
            for r in manifest["buckets"][str(b)]
            if not conjs
            or _stats_keep(
                all_stats.get(r, {}).get(str(b), {}), conjs, dtypes, session_tz
            )
        ]
        if rels_in:
            touched[b] = rels_in
    return touched


def _delete_dv_once(spark: SparkSession, path: str, predicate: str) -> dict:
    manifest = read_manifest(path)
    touched = _delete_targets(spark, path, manifest, predicate)
    if not touched:
        return manifest
    new_version = manifest["version"] + 1
    rel = _new_rel(new_version)
    dirs = [
        os.path.join(path, r, f"{_BUCKET_COL}={b}")
        for b, rels in touched.items()
        for r in rels
    ]
    # the row identity is materialized BEFORE any join — _metadata is
    # a file-source pseudo-column and does not survive transformations
    keyed = (
        _reader(spark, manifest).parquet(*dirs)
        .withColumn("_dv_file", F.expr(_DV_FILE_EXPR))
        .withColumn("_dv_pos", F.col("_metadata.row_index"))
    )
    dv_dirs = _dv_dirs(path, manifest, sorted(touched))
    if dv_dirs:  # already-tombstoned rows must not re-match
        dv = spark.read.schema(_DV_SCHEMA).parquet(*dv_dirs)
        keyed = keyed.join(F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti")
    tombstones = keyed.where(F.coalesce(F.expr(predicate), F.lit(False))).select(
        "_dv_file", "_dv_pos", _bucket_col(manifest)
    )
    _write_buckets(tombstones, path, rel)
    written = set(_written_buckets(path, rel))
    if not written:  # predicate matched no live row: no new version
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        return manifest
    dvs = {b: list(rels) for b, rels in manifest.get("dvs", {}).items()}
    for b in written:
        dvs.setdefault(str(b), []).append(rel)
    new_manifest = {
        **manifest, "version": new_version, "op": "delete-dv", "dvs": dvs,
    }
    try:
        _commit(path, new_manifest)
    except CommitConflict:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        raise
    return new_manifest


def _delete_once(spark: SparkSession, path: str, predicate: str) -> dict:
    manifest = read_manifest(path)
    touched = _delete_targets(spark, path, manifest, predicate)
    # buckets carrying deletion vectors but no stats match must still
    # rewrite IF their directories could match — they can't add rows,
    # so the pruned target set already covers every row the predicate
    # can delete; DVs of rewritten buckets are folded + cleared below
    if not touched:
        return manifest  # provably no matching row: no new version

    new_version = manifest["version"] + 1
    rel = _new_rel(new_version)
    dirs = [
        os.path.join(path, r, f"{_BUCKET_COL}={b}")
        for b, rels in touched.items()
        for r in rels
    ]
    # SQL DELETE keeps rows where the predicate is NULL, so the keep
    # filter is NOT(coalesce(pred, false)) — plain NOT(pred) would
    # silently delete NULL-predicate rows
    remaining = (
        _apply_dvs(
            spark, path, manifest,
            _reader(spark, manifest).parquet(*dirs), sorted(touched),
        )
        .select(*manifest["columns"])
        .where(~F.coalesce(F.expr(predicate), F.lit(False)))
        .withColumn(_BUCKET_COL, _bucket_col(manifest))
    )
    _write_buckets(remaining, path, rel)
    written = set(_written_buckets(path, rel))
    if not written:  # every touched directory was fully deleted
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    buckets = {b: list(rels) for b, rels in manifest["buckets"].items()}
    dvs = {b: list(rels) for b, rels in manifest.get("dvs", {}).items()}
    for b, rels_in in touched.items():
        keep_rels = [r for r in manifest["buckets"][str(b)] if r not in rels_in]
        if b in written:
            keep_rels.append(rel)
        if keep_rels:
            buckets[str(b)] = keep_rels
        else:
            buckets.pop(str(b), None)
        if not keep_rels or rels_in == manifest["buckets"][str(b)]:
            # the bucket was FULLY rewritten (or emptied): its DVs are
            # folded into the rewrite — clear them
            dvs.pop(str(b), None)
    stats = dict(manifest.get("stats", {}))
    if written:
        stats[rel] = _collect_stats(path, rel, remaining.schema)
    live_rels = {r for rels in buckets.values() for r in rels}
    stats = {r: s for r, s in stats.items() if r in live_rels}
    new_manifest = {
        **manifest, "version": new_version, "op": "delete",
        "buckets": buckets, "stats": stats, "dvs": dvs,
    }
    try:
        _commit(path, new_manifest)
    except CommitConflict:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        raise
    return new_manifest


def compact(
    spark: SparkSession,
    path: str,
    conflict_retries: int = 3,
    zorder_by: list[str] | None = None,
    n_slices: int = 8,
) -> dict:
    """Transactional OPTIMIZE: every bucket whose data spans more than
    one directory (accumulated appends) is rewritten into a single
    directory under one new version; single-directory buckets are
    carried over untouched. Unlike ``sources/io.compact_table``'s
    two-rename directory swap there is NO unavailability window —
    readers of the previous version keep reading it until the one
    manifest publish lands, and it stays readable until ``vacuum``.
    Returns the (possibly unchanged) manifest.

    ``zorder_by`` (VERDICT r10 item 8) additionally RE-CLUSTERS: the
    whole table is rewritten once, range-partitioned into ``n_slices``
    slices of the Z-order key over the given 1-2 numeric columns
    (``sources/io.zorder_key``; one column degenerates to a plain
    range sort). Each slice is its own manifest directory per bucket,
    so the per-directory min/max stats that drive range pruning become
    TIGHT on the clustered columns — a selective range predicate after
    a z-ordered compact opens ~1/n_slices of the directories where the
    append-ordered layout opened all of them (test-pinned: strictly
    fewer directories, hash-equal results). Slice boundaries come from
    approxQuantile (driver-side n_slices scalars, bounded); the write
    is ONE shuffle partitioned by (slice, bucket) — never a pass per
    slice."""
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        manifest = read_manifest(path)
        if zorder_by:
            target = sorted(int(b) for b in manifest["buckets"])
        else:
            # fragmented buckets AND buckets carrying deletion vectors
            # (compaction is the op that folds tombstones back into
            # plain files)
            dv_map = manifest.get("dvs", {})
            target = sorted(
                int(b)
                for b, rels in manifest["buckets"].items()
                if len(rels) > 1 or dv_map.get(b)
            )
        if not target:
            return manifest
        new_version = manifest["version"] + 1
        df = (
            _apply_dvs(
                spark, path, manifest,
                _reader(spark, manifest).parquet(*_bucket_dirs(path, manifest, target)),
                target,
            )
            .select(*manifest["columns"])
            .withColumn(_BUCKET_COL, _bucket_col(manifest))
        )
        rel = _new_rel(new_version)
        buckets = {b: list(rels) for b, rels in manifest["buckets"].items()}
        stats = dict(manifest.get("stats", {}))
        dvs = {b: list(rels) for b, rels in manifest.get("dvs", {}).items()}
        for b in target:
            dvs.pop(str(b), None)
        if zorder_by:
            by_bucket = _write_zorder_slices(spark, df, path, rel, zorder_by, n_slices)
            for b in target:
                buckets[str(b)] = by_bucket.get(b, [])
                if not buckets[str(b)]:
                    buckets.pop(str(b), None)
            for srel in {r for rels in by_bucket.values() for r in rels}:
                stats[srel] = _collect_stats(path, srel, df.schema)
        else:
            _write_buckets(df, path, rel)
            written = set(_written_buckets(path, rel))
            for b in target:
                if b in written:
                    buckets[str(b)] = [rel]
                else:
                    # every surviving row was tombstoned away: the
                    # folded bucket is empty — drop its entry
                    buckets.pop(str(b), None)
            if written:
                stats[rel] = _collect_stats(path, rel, df.schema)
        live_rels = {r for rels in buckets.values() for r in rels}
        stats = {r: s for r, s in stats.items() if r in live_rels}
        new_manifest = {
            **manifest, "version": new_version, "op": "compact",
            "buckets": buckets, "stats": stats, "dvs": dvs,
        }
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    raise last


def restore_table(
    path: str,
    version: int | None = None,
    as_of: float | None = None,
    conflict_retries: int = 3,
) -> dict:
    """RESTORE the table to an earlier version by publishing a NEW
    commit whose visible state equals that version (Delta's RESTORE
    shape): time travel backwards without losing the log — the bad
    versions stay readable until ``vacuum`` retires them, and the
    restore itself is one ordinary put-if-absent commit, so concurrent
    writers conflict and retry like with any other op. Data
    directories are immutable and the target version must still be
    RETAINED (``read_manifest`` raises if vacuum dropped it), so no
    data is copied — the new manifest simply references the old
    version's directories. Carried forward from the CURRENT version,
    not the restore point: ``properties`` and ``stream_cursors``
    (rolling a sink's exactly-once cursor backwards would make it
    silently absorb live batches as re-delivered). Works on table
    GROUPS too — one restore returns every member to the mutually
    consistent pair it had at that version."""
    if (version is None) == (as_of is None):
        raise ValueError("pass exactly one of version / as_of")
    if as_of is not None:
        version = version_at(path, as_of)
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        target = read_manifest(path, version)
        current = read_manifest(path)
        if current["version"] == version:
            return current  # restoring to the head: nothing to do
        new_manifest = {
            **target,
            "version": current["version"] + 1,
            "op": "restore",
            "restored_from": version,
        }
        for carried in ("properties", "stream_cursors"):
            if carried in current:
                new_manifest[carried] = current[carried]
            else:
                new_manifest.pop(carried, None)
        new_manifest.pop("chain", None)
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
    raise last


def set_properties(path: str, props: dict, conflict_retries: int = 3) -> dict:
    """Merge ``props`` into the table's ``properties`` map in one
    metadata-only commit (a ``None`` value deletes the key) — the
    ALTER TABLE SET TBLPROPERTIES face. The maintenance policy reads
    ``maintain.max_fragments`` / ``maintain.keep_versions`` /
    ``maintain.orphan_age_s`` from here (:func:`maintain`, and the
    native sink's ``autoMaintain`` post-commit hook). Delta-encoded
    per key like every other manifest map."""
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        manifest = read_manifest(path)
        merged = dict(manifest.get("properties", {}))
        for k, v in props.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = v
        new_manifest = {
            **manifest,
            "version": manifest["version"] + 1,
            "op": "set_properties",
            "properties": merged,
        }
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
    raise last


def maintain(
    spark: SparkSession,
    path: str,
    max_fragments: int | None = None,
    keep_versions: int | None = None,
    orphan_min_age_s: float | None = None,
    conflict_retries: int = 3,
) -> dict:
    """Threshold-driven table maintenance (VERDICT r13 item 5) — the
    production loop that keeps a long-running streaming table's read
    latency flat: ``compact`` when any bucket's fragment count (or a
    deletion vector) crosses the threshold, then age-gated ``vacuum``
    when a retention is configured. Idempotent and cheap when nothing
    crossed a threshold (one manifest read, no data I/O), so callers
    can invoke it after every batch. Explicit arguments override the
    table properties ``maintain.max_fragments`` /
    ``maintain.keep_versions`` / ``maintain.orphan_age_s``; with
    neither set the call is a no-op. Returns
    ``{"compacted": bool, "vacuum_removed": int}``. On a TABLE GROUP
    root only the retention half runs (members never fragment — the
    fragment threshold is ignored; vacuum is group-aware).
    Concurrency: both sub-operations are the ordinary transactional
    faces — racing writers conflict on the log and retry; vacuum's
    age gate protects in-flight staging."""
    man = read_manifest(path)
    props = man.get("properties", {})
    if max_fragments is None:
        v = props.get("maintain.max_fragments")
        max_fragments = int(v) if v is not None else None
    if keep_versions is None:
        v = props.get("maintain.keep_versions")
        keep_versions = int(v) if v is not None else None
    if orphan_min_age_s is None:
        v = props.get("maintain.orphan_age_s")
        orphan_min_age_s = float(v) if v is not None else 3600.0
    out = {"compacted": False, "vacuum_removed": 0}
    if "tables" in man:
        # a TABLE GROUP (table_group.py): members never fragment —
        # merges rewrite touched buckets wholesale and replaces stage
        # full images — so the maintenance a long-running group
        # (e.g. streaming_view_maintenance_group) needs is VERSION
        # RETENTION; vacuum is group-aware (sweeps every member's data
        # root). The fragment threshold is ignored for groups.
        max_fragments = None
    if max_fragments is not None and max_fragments >= 1:
        dv_map = man.get("dvs", {})
        if any(
            len(rels) > max_fragments or dv_map.get(b)
            for b, rels in man["buckets"].items()
        ):
            compact(spark, path, conflict_retries=conflict_retries)
            out["compacted"] = True
    if keep_versions is not None and keep_versions >= 1:
        out["vacuum_removed"] = vacuum(
            path, keep_versions=keep_versions, orphan_min_age_s=orphan_min_age_s
        )
    return out


def _write_zorder_slices(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    rel: str,
    zorder_by: list[str],
    n_slices: int,
) -> dict[int, list[str]]:
    """Write ``df`` (carrying _bucket) under ``path/rel`` partitioned
    by (zorder-slice, bucket) in ONE shuffled write, and return
    bucket → [slice rel dirs]. The Z-order key interleaves the
    quantile-quantized clustered columns (equi-depth grid, so skewed
    value distributions still fill slices evenly); NULLs sort into
    slice 0."""
    from . import io as _io

    if not 1 <= len(zorder_by) <= 2:
        raise ValueError("zorder_by takes 1 or 2 numeric columns")
    probs = [i / 64 for i in range(1, 64)]
    quantized = []
    for c in zorder_by:
        bnds = df.select(F.col(c).cast("double").alias(c)).approxQuantile(c, probs, 0.001)
        q = F.lit(0)
        for b in sorted(set(bnds)):
            q = q + F.when(F.col(c).cast("double") > F.lit(b), 1).otherwise(0)
        quantized.append(q)
    zkey = (
        quantized[0].cast("long")
        if len(quantized) == 1
        else _io.zorder_key(quantized[0], quantized[1], bits=6)
    )
    keyed = df.withColumn("_zkey", zkey)
    sprobs = [i / n_slices for i in range(1, n_slices)]
    sbnds = keyed.select(F.col("_zkey").cast("double").alias("_zkey")).approxQuantile(
        "_zkey", sprobs, 0.001
    )
    sl = F.lit(0)
    for b in sorted(set(sbnds)):
        sl = sl + F.when(F.col("_zkey") > F.lit(b), 1).otherwise(0)
    staging = os.path.join(path, rel)
    (
        keyed.withColumn("_slice", sl)
        .repartition(F.col("_slice"), F.col(_BUCKET_COL))
        .sortWithinPartitions("_slice", _BUCKET_COL, "_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .partitionBy("_slice", _BUCKET_COL)
        .parquet(staging)
    )
    by_bucket: dict[int, list[str]] = {}
    for d in sorted(os.listdir(staging)):
        if not d.startswith("_slice="):
            continue
        srel = f"{rel}/{d}"
        for b in _written_buckets(path, srel):
            by_bucket.setdefault(b, []).append(srel)
    return by_bucket


def repartition_table(
    spark: SparkSession,
    path: str,
    partition_expr: str | None = None,
    n_buckets: int = 16,
    conflict_retries: int = 3,
) -> dict:
    """PARTITION-SPEC EVOLUTION: atomically change the table's layout
    (Iceberg's evolve-partition-spec, done the rewrite way since our
    spec is a row-level expression): the current snapshot is read
    through the old manifest (deletion vectors applied, evolved schema
    pinned), rewritten under the NEW ``partition_expr`` (default: hash
    buckets over the key at ``n_buckets``), and published as ONE
    put-if-absent commit that swaps buckets, stats, and the expression
    together — readers of the previous version keep reading it, and a
    racing writer's commit loses-or-wins atomically (a lost race
    retries the WHOLE rewrite from the new latest snapshot, exactly
    ``compact``'s discipline, because the data content may have
    changed).

    Why a user reaches for it: the layout is the merge-I/O and
    read-pruning knob (module docstring) — a table created hash-
    bucketed whose workload turns out key-range-local (or vice versa),
    or one whose bucket count no longer matches the cluster, gets the
    right layout without downtime. Deletion vectors are folded by the
    rewrite; a pure repartition changes NO visible rows, pinned by the
    change data feed reading EMPTY across the boundary (test).

    Native-sink interplay: a running ``writeStream.format("manifest")``
    query pinned the OLD expression at stream start; its next commit
    re-reads the manifest, sees the expression changed, and fails the
    batch rather than mis-bucket (guard in manifest_sink.commit) —
    restart the stream to pick up the new layout. ``stream_cursors``
    carry over, so the restarted sink stays exactly-once."""
    last: CommitConflict | None = None
    for _ in range(max(1, conflict_retries + 1)):
        manifest = read_manifest(path)
        expr = partition_expr or default_partition_expr(
            manifest["key_cols"], n_buckets
        )
        _validate_partition_expr(expr, manifest["key_cols"], manifest["columns"])
        new_version = manifest["version"] + 1
        target = sorted(int(b) for b in manifest["buckets"])
        new_manifest = {
            **manifest,
            "version": new_version,
            "op": "repartition",
            "partition_expr": expr,
            "dvs": {},
        }
        rel = _new_rel(new_version)
        if target:
            df = (
                _apply_dvs(
                    spark, path, manifest,
                    _reader(spark, manifest).parquet(
                        *_bucket_dirs(path, manifest, target)
                    ),
                    target,
                )
                .select(*manifest["columns"])
                .withColumn(_BUCKET_COL, F.expr(expr).cast("long"))
            )
            _write_buckets(df, path, rel)
            written = _written_buckets(path, rel)
            new_manifest["buckets"] = {str(b): [rel] for b in written}
            new_manifest["stats"] = (
                {rel: _collect_stats(path, rel, df.schema)} if written else {}
            )
        else:
            new_manifest["buckets"] = {}
            new_manifest["stats"] = {}
        try:
            _commit(path, new_manifest)
            return new_manifest
        except CommitConflict as exc:
            last = exc
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    raise last


def _materialize_manifest(path: str, version: int) -> None:
    """Rewrite ``v{version}.json`` as a self-contained snapshot if it
    is currently a delta (``vacuum`` calls this for the oldest kept
    version before dropping its fold base). The replace is atomic and
    content-equivalent, so concurrent readers see either encoding of
    the same manifest."""
    target = _manifest_path(path, version)
    with open(target) as fh:
        if json.load(fh).get("kind") != "delta":
            return
    full = read_manifest(path, version)
    full["chain"] = 0
    mdir = os.path.join(path, _MANIFEST_DIR)
    tmp = os.path.join(mdir, f".mat-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    os.replace(tmp, target)


def vacuum(path: str, keep_versions: int = 1, orphan_min_age_s: float = 3600.0) -> int:
    """Delete data directories unreferenced by the newest
    ``keep_versions`` committed manifests, and drop older manifests —
    time travel stays available for exactly the retained versions
    (VERDICT r9 item 7: the public formats gate deletion with a
    retention window so a reader mid-scan on an advertised old
    version isn't broken; ``keep_versions=1`` is the aggressive
    storage-reclaim setting and ends time travel).

    Directories referenced by NO manifest at all are either losing
    commit races or an IN-FLIGHT writer's staged-but-not-yet-published
    data — indistinguishable from the outside, so such orphans are
    reclaimed only once older than ``orphan_min_age_s`` (the public
    formats' modification-time retention threshold; r10 review: an
    unguarded sweep deleted a concurrent writer's staging mid-commit,
    and the subsequent publish referenced missing files). Directories
    referenced by a SUPERSEDED manifest are safe immediately — no
    future commit can reference them. Returns the number of removed
    directories."""
    import time

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    mdir = os.path.join(path, _MANIFEST_DIR)
    versions = sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )
    if not versions:
        raise FileNotFoundError(f"no committed manifest under {path}")
    kept = versions[-keep_versions:]
    live: set[str] = set()
    live_aux: set[str] = set()
    referenced: set[str] = set()  # by ANY still-present manifest
    data_roots = {os.path.join(path, "data")}

    def _units(manifest: dict) -> list[tuple[str, dict]]:
        # a GROUP manifest (table_group.py) nests member entries under
        # 'tables', each rooted at path/<name> — vacuum sweeps every
        # member's data root with the same rules
        if "tables" in manifest:
            return [
                (os.path.join(path, n), e)
                for n, e in manifest["tables"].items()
            ]
        return [(path, manifest)]

    for v in versions:
        manifest = read_manifest(path, v)
        dirs: set[str] = set()
        auxes: set[str] = set()
        for base, m in _units(manifest):
            data_roots.add(os.path.join(base, "data"))
            dirs |= {
                os.path.normpath(os.path.join(base, rel, f"{_BUCKET_COL}={b}"))
                for key in ("buckets", "dvs")
                for b, rels in m.get(key, {}).items()
                for rel in rels
            }
            auxes |= {
                os.path.normpath(os.path.join(base, rel))
                for av in m.get("aux", {}).values()
                for rel in (av if isinstance(av, list) else [av])
            }
        referenced |= dirs | auxes
        if v in kept:
            live |= dirs
            live_aux |= auxes
    removed = 0
    now = time.time()

    def _payload_leaves(vpath: str) -> list[str]:
        """Payload leaves of a version directory, relative to it —
        plain ``_bucket=``/``_aux_`` children, plus one level of
        ``_slice=i/_bucket=b`` for z-ordered compact layouts (whose
        manifest rels point at the _slice subdirectory)."""
        out = []
        for leaf in os.listdir(vpath):
            sub = os.path.join(vpath, leaf)
            if leaf.startswith("_slice=") and os.path.isdir(sub):
                out += [os.path.join(leaf, l2) for l2 in os.listdir(sub)]
            else:
                out.append(leaf)
        return out

    version_dirs = [
        os.path.join(data_root, vdir)
        for data_root in sorted(data_roots)
        if os.path.isdir(data_root)
        for vdir in os.listdir(data_root)
    ]
    for vpath in version_dirs:
        if not os.path.isdir(vpath):
            continue
        dropped_leaf = False
        for leaf in _payload_leaves(vpath):
            name = os.path.basename(leaf)
            lpath = os.path.normpath(os.path.join(vpath, leaf))
            keepers = live if name.startswith(f"{_BUCKET_COL}=") else (
                live_aux if name.startswith("_aux_") else None
            )
            if keepers is None or lpath in keepers:
                continue
            if lpath not in referenced:
                # true orphan: maybe an in-flight writer — age-gate it
                try:
                    age = now - os.path.getmtime(lpath)
                except OSError:
                    continue
                if age < orphan_min_age_s:
                    continue
            shutil.rmtree(lpath)
            removed += 1
            dropped_leaf = True
        # fold emptied _slice containers, then the version dir once no
        # payload leaves remain — but a leafless dir we did NOT just
        # empty may be an in-flight writer's staging area (parquet's
        # _temporary lives there before any bucket leaf exists), so
        # those are age-gated too
        try:
            for leaf in os.listdir(vpath):
                sub = os.path.join(vpath, leaf)
                if leaf.startswith("_slice=") and os.path.isdir(sub) and not os.listdir(sub):
                    os.rmdir(sub)
            leafless = not any(
                os.path.basename(d).startswith((f"{_BUCKET_COL}=", "_aux_"))
                for d in _payload_leaves(vpath)
            )
            if leafless and (
                dropped_leaf or (now - os.path.getmtime(vpath)) >= orphan_min_age_s
            ):
                shutil.rmtree(vpath)
        except OSError:
            pass
    # a kept version may be a DELTA whose fold base is about to be
    # dropped — materialize the oldest kept version as a
    # self-contained snapshot first (atomic same-content replace;
    # newer kept deltas chain down onto it and stop there)
    _materialize_manifest(path, kept[0])
    for v in versions:
        if v not in kept:
            os.remove(_manifest_path(path, v))
    _write_latest_ptr(path, kept[-1])
    return removed
