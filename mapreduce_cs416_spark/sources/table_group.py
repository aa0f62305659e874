"""Cross-table ATOMIC commits — a TABLE GROUP: N named manifest
tables under one root sharing ONE commit log (VERDICT r12 item 7:
the IVM snapshot+view pattern as first-class API, not aux payloads).

Why a shared log instead of coordinating two independent logs: a
filesystem gives exactly one atomic primitive (put-if-absent link of
one file — ``manifest._commit``). Two tables with two logs need a
coordinator to be atomic across a crash between their publishes;
with ONE log there is nothing to coordinate — a group commit IS one
put-if-absent, so a crash anywhere before it leaves EVERY member at
the previous version together, and a replayed batch applies exactly
once. This mirrors how the public lakehouse designs frame multi-table
transactions (catalog-level commit coordination): the commit point
moves up one level; the data layout stays per-table.

Layout::

    root/_manifests/v{N}.json        one log for the whole group:
                                     {"version", "op", "tables":
                                      {name: member-entry}}
    root/<name>/data/v{N}-<uuid>/    member data, standard bucket
                                     layout (relative rels, so every
                                     existing helper works)

A member ENTRY has exactly a standalone manifest's shape (columns /
schema / key_cols / partition_expr / buckets / stats / dvs) minus the
version — reads synthesize ``{**entry, "version": gv}`` and reuse
``manifest._read_from_manifest`` (the whole pruning brain: bucket
replay for key equality, min/max stats for ranges); merges reuse
``manifest._merge_stage`` (touched-bucket rewrite, schema evolution,
DV clearing). Delta encoding, the ``_latest`` pointer, vacuum's
orphan sweep, and time travel all come straight from the shared log
machinery. Metadata note (r14): the log's delta encoding is RECURSIVE
(``manifest._diff_dict``), so a group commit persists O(changed
buckets) across all members — a streaming group with a many-bucketed
member pays per-batch metadata proportional to the buckets the batch
touched, not the member's whole manifest
(tests/test_manifest_checkpoint.py pins both the fold-exactness and
the size bound).

Concurrency: group writers conflict on the one log and retry the
whole transaction (same model as single-table writers) — merges re-run
against the fresh group manifest, and replace THUNKS are re-invoked
against it, so snapshot-derived images (the IVM view) are recomputed
on top of the racer's commit (ADVICE r13). Plain-DataFrame replaces
cannot be retried safely (their lazy plans pin the pre-conflict
snapshot) and raise on conflict instead. Losing attempts' staged
directories are reclaimed immediately, crash orphans by ``vacuum``'s
age gate.

Reference parity anchor: the reference engine has no transactional
storage at all (SURVEY §2.C sinks are append-only files); this is
north-star warehouse surface.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import manifest as mf


def _entry_of(df: DataFrame, key_cols: list[str], expr: str) -> dict:
    return {
        "partition_expr": expr,
        "key_cols": list(key_cols),
        "columns": df.columns,
        "schema": df.schema.json(),
        "writer_timezone": df.sparkSession.conf.get(
            "spark.sql.session.timeZone"
        ),
        "buckets": {},
        "stats": {},
    }


def _check_name(name: str) -> None:
    if not name or name.startswith("_") or "/" in name or "\\" in name:
        raise ValueError(f"invalid group member name {name!r}")


def _stage_member(
    root: str,
    name: str,
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int,
    partition_expr: str | None,
    version: int,
) -> tuple[dict, str]:
    """Write ``df`` as member ``name``'s full image under a fresh
    writer-unique directory; return (manifest entry, staged rel).
    Nothing is visible until the caller's ONE group commit."""
    expr = partition_expr or mf.default_partition_expr(key_cols, n_buckets)
    mf._validate_partition_expr(expr, key_cols, df.columns)
    entry = _entry_of(df, key_cols, expr)
    member = os.path.join(root, name)
    rel = mf._new_rel(version)
    mf._write_buckets(
        df.withColumn(mf._BUCKET_COL, mf._bucket_col(entry)), member, rel
    )
    written = mf._written_buckets(member, rel)
    entry["buckets"] = {str(b): [rel] for b in written}
    entry["stats"] = {rel: mf._collect_stats(member, rel, df.schema)}
    return entry, rel


def create_group(
    spark: SparkSession,
    root: str,
    members: dict[str, dict],
) -> dict:
    """Create a table group in ONE commit. ``members`` maps each name
    to a spec dict: ``{"df": DataFrame, "key_cols": [...],
    "n_buckets": 16, "partition_expr": None}`` (the last two
    optional, same semantics as ``manifest.create_table``)."""
    if mf.current_version(root) != 0:
        raise ValueError(f"a table group already exists under {root}")
    if not members:
        raise ValueError("a table group needs at least one member")
    tables = {}
    for name, spec in members.items():
        _check_name(name)
        tables[name], _ = _stage_member(
            root, name, spec["df"], spec["key_cols"],
            spec.get("n_buckets", 16), spec.get("partition_expr"), 1,
        )
    manifest = {"version": 1, "op": "create_group", "tables": tables}
    mf._commit(root, manifest)
    return manifest


def _member_entry(g: dict, name: str) -> dict:
    tables = g.get("tables")
    if tables is None:
        raise ValueError("not a table-group manifest (no 'tables' map)")
    if name not in tables:
        raise KeyError(
            f"no member {name!r} in this group; members: {sorted(tables)}"
        )
    return tables[name]


def read_group_table(
    spark: SparkSession,
    root: str,
    name: str,
    version: int | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Snapshot read of one member at a group version (default
    latest) — every member read at one version is MUTUALLY CONSISTENT
    by construction (they came from the same commit). Pruning is the
    standard brain (key-equality bucket replay + min/max stats)."""
    g = mf.read_manifest(root, version)
    entry = _member_entry(g, name)
    member_manifest = {**entry, "version": g["version"]}
    return mf._read_from_manifest(
        spark, os.path.join(root, name), member_manifest, predicate
    )


def read_group_changes(
    spark: SparkSession,
    root: str,
    name: str,
    from_version: int,
    to_version: int | None = None,
    op_col: str = "op",
    preimages: bool = False,
) -> DataFrame:
    """Change feed of ONE member between two GROUP versions — the CDF
    face for groups, so a downstream consumer (e.g. one tailing the
    IVM 'facts' member while the 'view' member co-advances) gets the
    same changed-bucket-bounded feed ``manifest.read_changes`` gives
    standalone tables. Both group versions must still be retained."""
    g0 = mf.read_manifest(root, from_version)
    g1 = mf.read_manifest(root, to_version)
    e0 = {**_member_entry(g0, name), "version": g0["version"]}
    e1 = {**_member_entry(g1, name), "version": g1["version"]}
    return mf._changes_core(
        spark, os.path.join(root, name), e0, e1, op_col, preimages
    )


def group_transact(
    spark: SparkSession,
    root: str,
    merges: dict[str, DataFrame] | None = None,
    replaces: dict | None = None,
    op_col: str = "op",
    seq_col: str | None = "seq",
    conflict_retries: int = 3,
    txn: tuple[str, int] | None = None,
) -> dict:
    """ONE atomic commit over several members: ``merges[name]`` is a
    CDC changelog merged into that member (touched-bucket rewrite,
    ``manifest.merge_into`` semantics including schema evolution);
    ``replaces[name]`` is a full new image for that member (the
    materialized-view shape — view-sized, rewritten wholesale). All
    named members' new states become visible in one put-if-absent
    publish; a crash before it leaves every member at the previous
    version TOGETHER (crash-injection-pinned in
    tests/test_table_group.py).

    **Conflicts and replace staleness (ADVICE r13, medium):** a
    ``replaces`` value may be either a DataFrame or a CALLABLE
    ``fn(spark, root, version) -> DataFrame`` invoked per attempt
    against the group manifest version the attempt commits on top of
    (read members inside it with ``read_group_table(..., version=
    version)``). A conflict retry re-runs merges against the fresh
    group manifest and re-invokes replace callables, so a view derived
    from member snapshots is recomputed from the racer's commit — the
    'members mutually consistent' invariant survives the race. A PLAIN
    DataFrame replace is a lazy plan pinned to the snapshot it was
    built from; retrying it would silently publish a stale image next
    to freshly-merged facts, so a conflict with a plain-DataFrame
    replace RAISES instead of retrying — pass a callable (or retry at
    the call site with a freshly derived image).

    **Exactly-once via a transaction cursor (r14):** ``txn=(app_id,
    version)`` is the group analog of the native sink's per-sink
    batch cursor (Delta's txnAppId/txnVersion): the group log carries
    ``stream_cursors[app_id]``; a RE-DELIVERED transaction
    (``version == cursor`` — Spark replays only the last unacked
    batch) is absorbed without staging, publishing, or invoking
    replace thunks, and a version BELOW the cursor fails loudly (a
    fresh or rolled-back checkpoint, never normal replay — the native
    sink's rule). This makes even NON-idempotent changelogs
    exactly-once through foreachBatch; ``app_id`` must be unique per
    (streaming query, checkpoint), like ``sinkId``."""
    last: mf.CommitConflict | None = None
    replaces = replaces or {}
    for attempt in range(max(1, conflict_retries + 1)):
        if attempt and any(not callable(v) for v in replaces.values()):
            stale = sorted(n for n, v in replaces.items() if not callable(v))
            raise mf.CommitConflict(
                f"group commit under {root} conflicted with another writer, "
                f"and replaces={stale} are plain DataFrames whose plans were "
                "built from the pre-conflict snapshot — retrying would "
                "publish a stale member image. Pass replace values as "
                "callables fn(spark, root, version) -> DataFrame so each "
                "attempt derives its image from the fresh group snapshot."
            ) from last
        try:
            return _transact_once(
                spark, root, merges or {}, replaces, op_col, seq_col, txn
            )
        except mf.CommitConflict as exc:
            last = exc
    raise last


def _transact_once(
    spark: SparkSession,
    root: str,
    merges: dict[str, DataFrame],
    replaces: dict,
    op_col: str,
    seq_col: str | None,
    txn: tuple[str, int] | None = None,
) -> dict:
    overlap = set(merges) & set(replaces)
    if overlap:
        raise ValueError(f"members both merged and replaced: {sorted(overlap)}")
    g = mf.read_manifest(root)
    if txn is not None:
        app_id, txn_version = txn
        cursor = g.get("stream_cursors", {}).get(app_id)
        if cursor is not None:
            if txn_version == cursor:
                # re-delivered transaction: already committed — absorb
                # without staging or invoking replace thunks
                return g
            if txn_version < cursor:
                raise RuntimeError(
                    f"group transaction cursor {app_id!r} is at "
                    f"{cursor} but this commit delivered {txn_version}: "
                    "the streaming checkpoint does not match the group "
                    "cursor (fresh/rolled-back checkpoint?). Restore the "
                    "matching checkpoint, or choose a new app_id."
                )
    # resolve replace thunks against THIS attempt's snapshot version —
    # read_group_table(..., version=g["version"]) inside the callable
    # pins every member read to the manifest this commit lands on top of
    replaces = {
        name: (v(spark, root, g["version"]) if callable(v) else v)
        for name, v in replaces.items()
    }
    new_version = g["version"] + 1
    tables = {n: dict(e) for n, e in g["tables"].items()}
    staged: list[str] = []  # member-relative dirs to reclaim on a loss
    changed = False
    try:
        for name, changes in merges.items():
            entry = _member_entry(g, name)
            member = os.path.join(root, name)
            member_manifest = {**entry, "version": g["version"]}
            new_member, rel = mf._merge_stage(
                spark, member, member_manifest, changes,
                op_col, seq_col, None, new_version,
            )
            if new_member is None:
                continue  # empty changelog for this member
            if rel is not None:
                staged.append(os.path.join(member, rel))
            new_member.pop("version", None)
            new_member.pop("op", None)
            tables[name] = new_member
            changed = True
        for name, df in replaces.items():
            entry = _member_entry(g, name)
            member = os.path.join(root, name)
            new_entry, rel = _stage_member(
                root, name, df, entry["key_cols"],
                # keep the member's layout across replacement
                1, entry["partition_expr"], new_version,
            )
            staged.append(os.path.join(member, rel))
            tables[name] = new_entry
            changed = True
    except BaseException:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)
        raise
    if not changed:
        return g  # nothing to publish, no version burn
    new_manifest = {**g, "version": new_version, "op": "group_transact",
                    "tables": tables}
    if txn is not None:
        cursors = dict(g.get("stream_cursors", {}))
        cursors[txn[0]] = txn[1]
        new_manifest["stream_cursors"] = cursors
    try:
        mf._commit(root, new_manifest)
        return new_manifest
    except mf.CommitConflict:
        pass
    # Group REBASE (r14, the merge_into rebase's symmetric twin): a
    # MERGES-ONLY transaction whose winner touched DISJOINT members
    # can fold its staged member entries onto the fresh group manifest
    # and republish without restaging — replaces never rebase (their
    # images are snapshot-derived; the thunk protocol re-derives them
    # on the full retry instead).
    if not replaces:
        for _ in range(4):
            fresh = mf.read_manifest(root)
            rebased = _rebase_group(g, new_manifest, fresh, txn)
            if rebased is None:
                break
            try:
                mf._commit(root, rebased)
                return rebased
            except mf.CommitConflict:
                continue
    for d in staged:
        shutil.rmtree(d, ignore_errors=True)
    raise mf.CommitConflict(
        f"group commit under {root} lost the version race and could not "
        "be rebased (overlapping members, replaces present, or cursor "
        "conflict); retry from the fresh group manifest"
    )


def _rebase_group(
    base: dict, staged: dict, fresh: dict, txn: tuple[str, int] | None
) -> dict | None:
    """Fold the member entries a merges-only group transaction staged
    against ``base`` onto the winner's ``fresh`` manifest — or None
    when any member we touched also changed under the winner (our
    merged images were computed without those changes), the winner
    isn't a group manifest anymore, or our txn app's cursor moved
    (another incarnation committed — the loud path must judge it)."""
    if "tables" not in fresh:
        return None
    ours = {
        n
        for n in set(base["tables"]) | set(staged["tables"])
        if base["tables"].get(n) != staged["tables"].get(n)
    }
    theirs = {
        n
        for n in set(base["tables"]) | set(fresh["tables"])
        if base["tables"].get(n) != fresh["tables"].get(n)
    }
    if ours & theirs:
        return None
    if txn is not None and fresh.get("stream_cursors", {}).get(txn[0]) != base.get(
        "stream_cursors", {}
    ).get(txn[0]):
        return None
    tables = {n: dict(e) for n, e in fresh["tables"].items()}
    for n in ours:
        ent = staged["tables"].get(n)
        if ent is None:
            tables.pop(n, None)
        else:
            tables[n] = dict(ent)
    rebased = {**fresh, "version": fresh["version"] + 1,
               "op": "group_transact", "tables": tables}
    if txn is not None:
        cursors = dict(fresh.get("stream_cursors", {}))
        cursors[txn[0]] = txn[1]
        rebased["stream_cursors"] = cursors
    return rebased
