"""Versioned-manifest table format (sources/manifest.py): commit
atomicity, merge correctness vs the batch cdc_merge oracle, the
bounded-write guarantee (untouched partitions are never rewritten —
the property the whole layer exists for), replay idempotence, time
travel, and vacuum. Streaming face: the foreachBatch pipeline matches
a batch replay and keeps per-batch writes partition-bounded."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_cs416_spark.operators import cdc
from mapreduce_cs416_spark.sources import manifest as mf


def _orders(spark, sf_dir):
    from mapreduce_cs416_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _changelog(orders, lo: int, hi: int):
    """Key-LOCAL changelog: updates + deletes confined to the key
    range [lo, hi) plus a few inserts just above it — the arrival
    shape (recent keys churn) that makes partition-bounded merges
    worth having."""
    upd = (
        orders.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("D")).otherwise(F.lit("U")),
        )
        .withColumn("seq", F.col("o_orderkey") * 10)
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 2))
    )
    ins = (
        orders.orderBy("o_orderkey").limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.col("o_orderkey"))
    )
    return upd.unionByName(ins)


RANGE_EXPR = "floor(o_orderkey / 256)"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def seeded(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_tbl")
    orders = _orders(spark, sf_dir)
    man = mf.create_table(orders, path, ["o_orderkey"], partition_expr=RANGE_EXPR)
    return path, orders, man


def test_create_read_round_trip(spark, seeded):
    path, orders, man = seeded
    assert man["version"] == 1
    got = mf.read_table(spark, path)
    assert got.columns == orders.columns
    assert _sorted_rows(got) == _sorted_rows(orders)


def test_merge_matches_batch_cdc_merge_oracle(spark, seeded):
    path, orders, _ = seeded
    batch = _changelog(orders, 0, 512)
    expected = cdc.cdc_merge(orders, batch, ["o_orderkey"], op_col="op", seq_col="seq")
    man = mf.merge_into(spark, path, batch)
    assert man["version"] == 2
    assert _sorted_rows(mf.read_table(spark, path)) == _sorted_rows(expected)


def test_untouched_partitions_are_never_rewritten(spark, seeded):
    """THE bounded-write pin: after a key-local merge, every
    untouched partition's manifest entry still points at the v1
    directory, and those files on disk are bit-identical (same paths,
    sizes, mtimes) — the merge never read or wrote them."""
    path, orders, man1 = seeded
    before = {b: list(rels) for b, rels in man1["buckets"].items()}

    def _files(bucket: str, rels: list[str]):
        out = {}
        for rel in rels:
            d = os.path.join(path, rel, f"_bucket={bucket}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    out[fp] = (os.path.getsize(fp), os.path.getmtime(fp))
        return out

    snap_before = {b: _files(b, rels) for b, rels in before.items()}

    batch = _changelog(orders, 0, 512)
    touched = {
        str(r[0])
        for r in batch.selectExpr(f"cast(({RANGE_EXPR}) as long)").distinct().collect()
    }
    man2 = mf.merge_into(spark, path, batch)

    untouched = set(before) - touched
    assert untouched, "fixture must leave some partitions untouched"
    rewritten = {b for b in man2["buckets"] if man2["buckets"][b] != before.get(b)}
    # 1) write volume is bounded by the touched set
    assert rewritten <= touched
    # 2) untouched entries still reference v1 and the files are intact
    for b in untouched:
        assert man2["buckets"][b] == before[b]
        assert _files(b, before[b]) == snap_before[b]


def test_replay_is_idempotent(spark, seeded):
    path, orders, _ = seeded
    batch = _changelog(orders, 0, 512)
    mf.merge_into(spark, path, batch)
    once = _sorted_rows(mf.read_table(spark, path))
    man = mf.merge_into(spark, path, batch)  # the replayed micro-batch
    assert man["version"] == 3
    assert _sorted_rows(mf.read_table(spark, path)) == once


def test_time_travel_and_vacuum(spark, seeded):
    path, orders, _ = seeded
    v1 = _sorted_rows(mf.read_table(spark, path, version=1))
    mf.merge_into(spark, path, _changelog(orders, 0, 512))
    # old version stays readable until vacuum (commits never mutate)
    assert _sorted_rows(mf.read_table(spark, path, version=1)) == v1
    latest = _sorted_rows(mf.read_table(spark, path))
    removed = mf.vacuum(path)
    assert removed > 0
    assert _sorted_rows(mf.read_table(spark, path)) == latest
    with pytest.raises(FileNotFoundError):
        mf.read_manifest(path, version=1)


def test_delete_only_batch_can_empty_a_partition(spark, seeded):
    path, orders, man1 = seeded
    # wipe the whole first partition
    kill = (
        orders.where(F.expr(RANGE_EXPR) == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    assert kill.count() > 0
    man2 = mf.merge_into(spark, path, kill)
    assert "0" not in man2["buckets"]
    got = mf.read_table(spark, path)
    assert got.where(F.expr(RANGE_EXPR) == 0).count() == 0


def test_streaming_manifest_merge_matches_batch_and_bounds_writes(
    spark, sf_dir, tmp_path
):
    """Stream==batch for the manifest-backed CDC service, plus the
    bounded-write property across micro-batches: each batch's new
    version directory contains only that batch's touched partitions."""
    from mapreduce_cs416_spark.streaming import pipelines as sp

    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "tbl")
    mf.create_table(orders, path, ["o_orderkey"], partition_expr=RANGE_EXPR)

    batches = [_changelog(orders, i * 256, (i + 1) * 256) for i in range(3)]
    change_dir = str(tmp_path / "changes")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{change_dir}/bat={i}")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batches[0].schema.fields
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{change_dir}/bat=*")
    )
    q = sp.streaming_cdc_merge_manifest(stream, path)
    q.awaitTermination()

    expected = orders
    for b in batches:
        expected = cdc.cdc_merge(expected, b, ["o_orderkey"], op_col="op", seq_col="seq")
    assert _sorted_rows(mf.read_table(spark, path)) == _sorted_rows(expected)

    # bounded writes: no version directory holds more partitions than
    # the widest batch touched (each batch spans ≤ 2 key-partitions
    # plus the shared insert partition)
    max_touched = max(
        b.selectExpr(f"cast(({RANGE_EXPR}) as long)").distinct().count()
        for b in batches
    )
    data_root = os.path.join(path, "data")
    for vdir in os.listdir(data_root):
        if vdir.startswith("v1-"):  # the seed version holds all partitions
            continue
        parts = [d for d in os.listdir(os.path.join(data_root, vdir)) if d.startswith("_bucket=")]
        assert 0 < len(parts) <= max_touched


def test_append_into_never_touches_existing_files_and_compact_folds(
    spark, seeded
):
    """The append/compact pair: appends add one directory per touched
    bucket per batch without reading or rewriting ANY existing file;
    compact folds multi-directory buckets back to one under a single
    new version with content identical — and, unlike
    io.compact_table's directory swap, the previous version stays
    readable throughout (no unavailability window)."""
    path, orders, man1 = seeded

    # new unique keys that land in EXISTING partitions (1500..1599 →
    # the tail buckets) so appends visibly accumulate directories
    extra1 = (
        orders.orderBy("o_orderkey").limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1500)
    )
    extra2 = (
        orders.orderBy("o_orderkey").limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1550)
    )
    man2 = mf.append_into(spark, path, extra1)
    man3 = mf.append_into(spark, path, extra2)
    assert man3["version"] == 3
    # appended buckets accumulated directories; none lost the original
    grew = [b for b, rels in man3["buckets"].items() if len(rels) > 1]
    assert grew, man3["buckets"]
    for b, rels in man1["buckets"].items():
        assert man3["buckets"][b][0] == rels[0]

    expected = _sorted_rows(
        mf.read_table(spark, path, version=1).unionByName(extra1).unionByName(extra2)
    )
    assert _sorted_rows(mf.read_table(spark, path)) == expected

    man4 = mf.compact(spark, path)
    assert man4["version"] == 4
    assert all(len(rels) == 1 for rels in man4["buckets"].values())
    assert _sorted_rows(mf.read_table(spark, path)) == expected
    # the pre-compact version is still readable (no swap window)
    assert _sorted_rows(mf.read_table(spark, path, version=3)) == expected
    # compact with nothing fragmented is a no-op commit-wise
    assert mf.compact(spark, path)["version"] == 4


def test_merge_consolidates_appended_bucket(spark, seeded):
    """A merge over a bucket fragmented by appends reads ALL its
    directories (missing one would resurrect deleted rows or lose
    appends) and leaves the bucket single-directory again."""
    path, orders, _ = seeded
    extra = orders.withColumn("o_orderkey", F.col("o_orderkey") + 128).limit(20)
    mf.append_into(spark, path, extra)
    batch = _changelog(orders, 0, 512)
    expected = cdc.cdc_merge(
        mf.read_table(spark, path), batch, ["o_orderkey"], op_col="op", seq_col="seq"
    )
    man = mf.merge_into(spark, path, batch)
    assert _sorted_rows(mf.read_table(spark, path)) == _sorted_rows(expected)
    touched = {
        str(r[0])
        for r in batch.selectExpr(f"cast(({RANGE_EXPR}) as long)").distinct().collect()
    }
    for b in touched & man["buckets"].keys():
        assert len(man["buckets"][b]) == 1


def test_view_commits_atomically_with_snapshot_and_crash_is_invisible(
    spark, seeded, monkeypatch
):
    """The aux-table commit (VERDICT r8 item 5's residual): snapshot
    merge and materialized view publish under ONE manifest rename. A
    crash after ALL data is written but before the rename leaves both
    reads at the previous version; the replayed batch then applies
    exactly once."""
    from mapreduce_cs416_spark.operators import ivm

    path, orders, _ = seeded
    group, measures = ["o_custkey"], {"revenue": "o_totalprice"}
    # seed the view atomically with v2 (aux on a no-change merge)
    view0 = ivm.build_view(orders, group, measures)
    mf.merge_into(
        spark, path, orders.limit(0).withColumn("op", F.lit("U")).withColumn("seq", F.lit(1)),
        aux={"view": view0},
    )
    assert "view" in mf.read_manifest(path)["aux"]

    batch = _changelog(orders, 0, 512)
    snap = mf.read_table(spark, path)
    delta = ivm.delta_view(snap, batch, ["o_orderkey"], group, measures, op_col="op", seq_col="seq")
    new_view = ivm.merge_deltas(mf.read_aux(spark, path, "view"), delta, group)

    before_snap = _sorted_rows(mf.read_table(spark, path))
    before_view = _sorted_rows(mf.read_aux(spark, path, "view"))
    v_before = mf.read_manifest(path)["version"]

    # crash injection: everything lands on disk, the rename never does
    def boom(p, m):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(mf, "_commit", boom)
    with pytest.raises(RuntimeError):
        mf.merge_into(spark, path, batch, aux={"view": new_view})
    monkeypatch.undo()

    # both tables still read the OLD version — the torn state is invisible
    assert mf.read_manifest(path)["version"] == v_before
    assert _sorted_rows(mf.read_table(spark, path)) == before_snap
    assert _sorted_rows(mf.read_aux(spark, path, "view")) == before_view

    # the replay applies exactly once and view == recompute-from-snapshot
    mf.merge_into(spark, path, batch, aux={"view": new_view})
    merged = mf.read_table(spark, path)
    got_view = _sorted_rows(mf.read_aux(spark, path, "view"))
    want_view = _sorted_rows(ivm.build_view(merged, group, measures))
    assert got_view == want_view


def test_streaming_view_maintenance_manifest_matches_recompute(
    spark, sf_dir, tmp_path
):
    from mapreduce_cs416_spark.operators import ivm
    from mapreduce_cs416_spark.streaming import pipelines as sp

    orders = _orders(spark, sf_dir)
    group, measures = ["o_custkey"], {"revenue": "o_totalprice"}
    path = str(tmp_path / "tbl")
    mf.create_table(
        orders, path, ["o_orderkey"], partition_expr=RANGE_EXPR,
        aux={"view": ivm.build_view(orders, group, measures)},
    )

    batches = [_changelog(orders, i * 256, (i + 1) * 256) for i in range(2)]
    change_dir = str(tmp_path / "changes")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{change_dir}/bat={i}")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batches[0].schema.fields
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{change_dir}/bat=*")
    )
    q = sp.streaming_view_maintenance_manifest(
        stream, path, ["o_orderkey"], group, measures
    )
    q.awaitTermination()

    merged = mf.read_table(spark, path)
    got = _sorted_rows(mf.read_aux(spark, path, "view"))
    want = _sorted_rows(ivm.build_view(merged, group, measures))
    assert got == want
    # and the snapshot equals the batch cdc loop
    expected = orders
    for b in batches:
        expected = cdc.cdc_merge(expected, b, ["o_orderkey"], op_col="op", seq_col="seq")
    assert _sorted_rows(merged) == _sorted_rows(expected)


# --- r10 hardening: writer races, read pruning, retention, guards ----


def test_commit_is_put_if_absent(spark, seeded):
    """Two racing committers of the same version: exactly one wins;
    the loser gets a typed CommitConflict and the winner's manifest is
    untouched (os.rename would have silently replaced it — the lost
    update VERDICT r9 flagged)."""
    path, _, _ = seeded
    man = mf.read_manifest(path)
    winner = {**man, "version": man["version"] + 1, "buckets": dict(man["buckets"])}
    mf._commit(path, winner)
    with pytest.raises(mf.CommitConflict):
        mf._commit(path, {**man, "version": man["version"] + 1, "buckets": {}})
    # the winner's manifest is intact, not clobbered
    assert mf.read_manifest(path, winner["version"])["buckets"] == man["buckets"]


def test_merge_retries_past_racing_committer_without_data_loss(
    spark, seeded, monkeypatch
):
    """A racing writer steals the version mid-merge: merge_into
    retries from the new latest manifest and commits one version
    later; neither the racer's commit nor the changelog's effects are
    lost, and the final image equals the batch cdc_merge oracle."""
    path, orders, _ = seeded
    batch = _changelog(orders, 0, 512)
    expected = cdc.cdc_merge(orders, batch, ["o_orderkey"], op_col="op", seq_col="seq")

    real = mf._commit
    raced = {"done": False}

    def racing(p, m):
        if not raced["done"]:
            raced["done"] = True
            latest = mf.read_manifest(p)
            # the racer publishes a no-op version bump first — it wins
            real(p, {**latest, "version": latest["version"] + 1})
        real(p, m)

    monkeypatch.setattr(mf, "_commit", racing)
    man = mf.merge_into(spark, path, batch)
    monkeypatch.undo()

    assert man["version"] == 3  # seed=1, racer=2, retried merge=3
    # the racer's commit survived (put-if-absent, not replaced) ...
    assert mf.read_manifest(path, 2)["version"] == 2
    # ... and the merge's effects are all present
    assert _sorted_rows(mf.read_table(spark, path)) == _sorted_rows(expected)


def test_point_lookup_prunes_to_one_bucket(spark, seeded):
    """The read half of the lakehouse story (VERDICT r9 item 2): a
    key-equality read resolves through partition_expr to ONE bucket
    directory — listed and opened files stay inside it — and the
    result equals an unpruned read + filter."""
    path, orders, man = seeded
    key = orders.select("o_orderkey").orderBy("o_orderkey").first()[0]
    pred = f"o_orderkey = {key}"
    dirs = mf.resolve_read_dirs(spark, path, pred)
    assert len(dirs) == 1
    assert dirs[0].endswith(f"_bucket={key // 256}")
    got = mf.read_table(spark, path, predicate=pred)
    assert all(f"_bucket={key // 256}" in f for f in got.inputFiles())
    want = mf.read_table(spark, path).where(pred)
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() >= 1


def test_point_lookup_prunes_hash_bucketed_table(spark, sf_dir, tmp_path):
    """Equality pruning replays the DEFAULT xxhash64 partition
    expression over the literal (cast to the persisted column type, so
    the hash sees the stored type exactly) — the non-trivial replay
    case a range expression doesn't exercise."""
    path = str(tmp_path / "hash_tbl")
    orders = _orders(spark, sf_dir)
    mf.create_table(orders, path, ["o_orderkey"])  # default hash expr
    key = orders.select("o_orderkey").orderBy(F.desc("o_orderkey")).first()[0]
    pred = f"o_orderkey = {key}"
    dirs = mf.resolve_read_dirs(spark, path, pred)
    assert len(dirs) == 1
    got = mf.read_table(spark, path, predicate=pred)
    assert got.count() == 1
    assert _sorted_rows(got) == _sorted_rows(mf.read_table(spark, path).where(pred))


def test_range_predicate_prunes_on_minmax_stats(spark, seeded):
    """Per-bucket min/max stats recorded at write time prune range
    predicates: a top-of-key-range scan opens strictly fewer
    directories than the table has, with oracle-equal results."""
    path, orders, man = seeded
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    pred = f"o_orderkey >= {hi - 100}"
    all_dirs = mf.resolve_read_dirs(spark, path)
    pruned = mf.resolve_read_dirs(spark, path, pred)
    assert 0 < len(pruned) < len(all_dirs)
    got = mf.read_table(spark, path, predicate=pred)
    want = mf.read_table(spark, path).where(pred)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_unparseable_predicate_prunes_nothing_but_filters(spark, seeded):
    path, orders, _ = seeded
    pred = "o_orderstatus = 'F' or o_orderkey < 10"
    assert mf.resolve_read_dirs(spark, path, pred) == mf.resolve_read_dirs(spark, path)
    got = mf.read_table(spark, path, predicate=pred)
    want = mf.read_table(spark, path).where(pred)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_delete_everything_reads_back_typed_empty_frame(spark, seeded):
    """ADVICE r9: a delete-only changelog that empties EVERY bucket
    leaves a readable table — an empty frame with the persisted
    schema, not a FileNotFoundError."""
    path, orders, _ = seeded
    kill = (
        orders.withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    man = mf.merge_into(spark, path, kill)
    assert man["buckets"] == {}
    got = mf.read_table(spark, path)
    assert got.columns == orders.columns
    assert got.schema == orders.schema
    assert got.count() == 0


def test_vacuum_retention_keeps_time_travel_window(spark, seeded):
    """vacuum(keep_versions=k) retains the newest k versions readable
    (the retention guard VERDICT r9 item 7 asked for); only older
    versions and orphans are reclaimed."""
    path, orders, _ = seeded
    mf.merge_into(spark, path, _changelog(orders, 0, 256))
    mf.merge_into(spark, path, _changelog(orders, 256, 512))
    v2 = _sorted_rows(mf.read_table(spark, path, version=2))
    v3 = _sorted_rows(mf.read_table(spark, path, version=3))
    mf.vacuum(path, keep_versions=2)
    # both retained versions stay fully readable
    assert _sorted_rows(mf.read_table(spark, path, version=2)) == v2
    assert _sorted_rows(mf.read_table(spark, path, version=3)) == v3
    with pytest.raises(FileNotFoundError):
        mf.read_manifest(path, version=1)
    with pytest.raises(ValueError):
        mf.vacuum(path, keep_versions=0)


def test_stale_writer_cannot_republish_a_vacuumed_version(spark, seeded):
    """A writer whose base fell behind vacuum's retention window must
    lose the commit: its version slot was committed and then vacuumed,
    so a bare put-if-absent link would succeed, point ``_latest`` back
    at the stale snapshot and drop every newer commit (the lost sink
    batches of the contention storm)."""
    path, _, _ = seeded
    stale = mf.read_manifest(path)
    for _ in range(4):
        latest = mf.read_manifest(path)
        mf._commit(path, {**latest, "version": latest["version"] + 1, "op": "noop"})
    mf.vacuum(path, keep_versions=2)  # keeps v4 and v5
    with pytest.raises(FileNotFoundError):
        mf.read_manifest(path, version=2)
    with pytest.raises(mf.CommitConflict):
        mf._commit(path, {**stale, "version": stale["version"] + 1})
    assert mf.current_version(path) == 5
    assert mf.read_manifest(path)["op"] == "noop"


def test_partition_expr_must_reference_only_key_cols(spark, sf_dir, tmp_path):
    """ADVICE r9 (medium): a partition expression over a mutable
    non-key column would misroute updates and resurrect stale rows —
    rejected at create_table."""
    orders = _orders(spark, sf_dir)
    with pytest.raises(ValueError, match="non-key column"):
        mf.create_table(
            orders, str(tmp_path / "t1"), ["o_orderkey"],
            partition_expr="pmod(xxhash64(o_custkey), 16)",
        )
    with pytest.raises(ValueError, match="references no key column"):
        mf.create_table(
            orders, str(tmp_path / "t2"), ["o_orderkey"], partition_expr="42",
        )


def test_null_keys_are_rejected(spark, seeded):
    """ADVICE r9: NULL key columns would hash to the hive default
    partition and corrupt the bucket map — rejected before anything
    is committed, table left intact."""
    path, orders, _ = seeded
    before = _sorted_rows(mf.read_table(spark, path))
    v_before = mf.current_version(path)
    bad = (
        orders.limit(3)
        .withColumn("o_orderkey", F.lit(None).cast("long"))
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    with pytest.raises(ValueError, match="non-null"):
        mf.merge_into(spark, path, bad)
    with pytest.raises(ValueError, match="non-null"):
        mf.append_into(spark, path, bad.drop("op", "seq"))
    assert mf.current_version(path) == v_before
    assert _sorted_rows(mf.read_table(spark, path)) == before


# --- r10 review fixes: parser safety, type gating, retention --------


def test_conjunct_parser_is_not_fooled_by_string_literals():
    """A comparison INSIDE a quoted literal must not fabricate a
    conjunct (a fake key-equality would pin the scan to the wrong
    bucket — a wrong prune, not a harmless no-prune), and SQL ''
    escapes must resolve to the real string."""
    conjs = mf._conjuncts("o_comment = 'x and o_orderkey=7 and y'")
    assert conjs == [("o_comment", "=", "x and o_orderkey=7 and y")]
    assert mf._conjuncts("name = 'O''Brien'") == [("name", "=", "O'Brien")]
    # OR/NOT inside a literal must not disable pruning either
    assert mf._conjuncts("c = 'a or b' and k = 5") == [
        ("c", "=", "a or b"), ("k", "=", 5),
    ]
    # a same-column OR-of-equalities is the IN-list (r11 rewrite) —
    # whether parenthesized, top-level, or alongside AND conjuncts
    assert mf._conjuncts("k = 5 or k = 6") == [("k", "in", [5, 6])]
    assert mf._conjuncts("(k = 5 or k = 6) and v > 3") == [
        ("k", "in", [5, 6]), ("v", ">", 3),
    ]
    # any OTHER or-shape still disables everything
    assert mf._conjuncts("k = 5 or v = 6") == []
    assert mf._conjuncts("k = 5 or k > 6") == []
    assert mf._conjuncts("k = 5 or (k = 6 and v = 2)") == []
    # BETWEEN is two range conjuncts; NOT BETWEEN degrades whole
    assert mf._conjuncts("k between 2 and 8") == [("k", ">=", 2), ("k", "<=", 8)]
    assert mf._conjuncts("k not between 2 and 8") == []
    assert mf._conjuncts("not (k = 5)") == []
    # adversarial shapes (r11 review sweep)
    assert mf._conjuncts("c = 'x between 1 and 2' and k = 3") == [
        ("c", "=", "x between 1 and 2"), ("k", "=", 3),
    ]
    assert mf._conjuncts("(k = 1 or k = 2) and (v = 3 or v = 4)") == [
        ("k", "in", [1, 2]), ("v", "in", [3, 4]),
    ]
    assert mf._conjuncts("k between 1 and 2 or v = 3") == []  # true OR: whole degrades
    assert mf._conjuncts("k = 1 or k in (2, 3)") == []  # only pure =-chains rewrite
    assert mf._conjuncts("c = 'or' and k = 5") == [("c", "=", "or"), ("k", "=", 5)]
    # a column-valued bound drops ITS conjunct only; the other half
    # still prunes (conjunction semantics keep this sound)
    assert mf._conjuncts("k between v and 7") == [("k", "<=", 7)]
    assert mf._conjuncts(
        "ts between timestamp '2020-01-01' and timestamp '2020-02-01 10:00:00'"
    ) == [("ts", ">=", "2020-01-01"), ("ts", "<=", "2020-02-01 10:00:00")]


def test_numeric_literal_on_string_key_does_not_prune(spark, sf_dir, tmp_path):
    """Spark's row filter coerces a string COLUMN to the numeric
    literal's type ('05' = 5 is true), while bucket replay would cast
    the literal to string and pin xxhash64('5')'s bucket only —
    mismatched type classes must disable pruning entirely."""
    orders = _orders(spark, sf_dir).withColumn(
        "okey", F.col("o_orderkey").cast("string")
    ).drop("o_orderkey")
    path = str(tmp_path / "str_tbl")
    mf.create_table(orders, path, ["okey"])
    key = orders.select("okey").first()[0]
    pred = f"okey = {int(key)}"  # numeric literal against the string key
    assert mf.resolve_read_dirs(spark, path, pred) == mf.resolve_read_dirs(spark, path)
    got = mf.read_table(spark, path, predicate=pred)
    want = mf.read_table(spark, path).where(pred)
    assert _sorted_rows(got) == _sorted_rows(want)
    # the same lookup with a STRING literal does prune to one bucket
    assert len(mf.resolve_read_dirs(spark, path, f"okey = '{key}'")) == 1


def test_temporal_stats_prune_is_format_insensitive(spark, sf_dir, tmp_path):
    """Timestamp stats are ISO 'YYYY-MM-DD HH:MM:SS'; predicates may
    spell the same instant with a 'T' separator or as a bare date —
    lexicographic comparison mis-pruned these (r10 review); datetime
    normalization must keep results oracle-equal AND still prune."""
    from mapreduce_cs416_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "ev_tbl")
    mf.create_table(
        events, path, ["event_id"], partition_expr="floor(event_id / 64)"
    )
    hi = events.agg(F.max("ts")).first()[0]
    iso_t = hi.strftime("%Y-%m-%dT%H:%M:%S")
    pred = f"ts >= timestamp '{iso_t}'"
    got = mf.read_table(spark, path, predicate=pred)
    want = mf.read_table(spark, path).where(pred)
    assert got.count() >= 1
    assert _sorted_rows(got) == _sorted_rows(want)
    # and a top-of-range scan still prunes some directories
    pruned = mf.resolve_read_dirs(spark, path, pred)
    assert 0 < len(pruned) < len(mf.resolve_read_dirs(spark, path))


def test_date_column_vs_timestamp_literal_never_misprunes(spark, sf_dir, tmp_path):
    """The date-column mirror of the format-insensitivity test (ADVICE
    r11, high): Spark casts a datetime-formatted string literal to
    DATE (dropping the time-of-day) before comparing against a DATE
    column, so ``d = '2020-01-05 10:00:00'`` matches rows with
    d = 2020-01-05 — but _stats_keep compared the parsed 10:00
    datetime against the midnight min/max and dropped the directory,
    silently losing rows. Pins pruned-read ≡ full-read+filter for =,
    IN, and >= with time-of-day literals, and that pruning still
    happens."""
    from mapreduce_cs416_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_totalprice"
    )
    path = str(tmp_path / "od_tbl")
    mf.create_table(orders, path, ["o_orderkey"], partition_expr="floor(o_orderkey / 256)")
    hi = orders.agg(F.max("o_orderdate")).first()[0]
    noon = hi.strftime("%Y-%m-%d") + " 10:00:00"
    for pred in (
        f"o_orderdate = '{noon}'",
        f"o_orderdate IN ('{noon}')",
        f"o_orderdate >= '{noon}'",
    ):
        got = mf.read_table(spark, path, predicate=pred)
        want = mf.read_table(spark, path).where(pred)
        assert want.count() >= 1, "fixture must exercise matching rows"
        assert _sorted_rows(got) == _sorted_rows(want)
    # stats pruning on the date column still fires for a range scan
    lo_pred = f"o_orderdate < '{orders.agg(F.min('o_orderdate')).first()[0]}'"
    assert len(mf.resolve_read_dirs(spark, path, lo_pred)) < len(
        mf.resolve_read_dirs(spark, path)
    )


def test_partition_expr_validation_ignores_function_names(spark, sf_dir, tmp_path):
    """A non-key COLUMN named like a SQL function must not falsely
    reject the module's own recommended expression shape."""
    orders = _orders(spark, sf_dir).withColumn("floor", F.lit(1))
    man = mf.create_table(
        orders, str(tmp_path / "fn_tbl"), ["o_orderkey"],
        partition_expr="floor(o_orderkey / 256)",
    )
    assert man["version"] == 1


def test_manifest_stats_stay_bounded_by_live_directories(spark, seeded):
    """Superseded version directories' stats entries must not
    accumulate across commits — every commit and read would pay
    O(all versions ever) of JSON otherwise."""
    path, orders, _ = seeded
    for i in range(3):
        mf.merge_into(spark, path, _changelog(orders, i * 128, (i + 1) * 128))
    man = mf.read_manifest(path)
    live = {rel for rels in man["buckets"].values() for rel in rels}
    assert set(man["stats"]) <= live


def test_vacuum_age_gates_unreferenced_orphans(spark, seeded):
    """A directory referenced by NO manifest may be an in-flight
    writer's staging area (indistinguishable from a losing race) —
    vacuum must leave young ones alone and reclaim them only past
    the retention age; SUPERSEDED directories (referenced by an old
    manifest) are reclaimed immediately."""
    path, orders, _ = seeded
    mf.merge_into(spark, path, _changelog(orders, 0, 256))
    staged = os.path.join(path, "data", "v99-deadbeef", "_bucket=0")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "w") as fh:
        fh.write("in-flight")
    removed = mf.vacuum(path)  # default retention: superseded v1 dirs go
    assert removed > 0
    assert os.path.isdir(staged)  # the young orphan survives
    assert mf.vacuum(path, orphan_min_age_s=0) > 0
    assert not os.path.exists(staged)


def test_append_conflict_retry_reuses_written_data(spark, seeded, monkeypatch):
    """Append data is version-independent: a losing version race must
    retry only the manifest build, not re-write the parquet batch
    (the docstring's promise; r10 review found the code rewrote)."""
    path, orders, _ = seeded
    extra = orders.orderBy("o_orderkey").limit(20).withColumn(
        "o_orderkey", F.col("o_orderkey") + 777_000
    )
    before = {d for d in os.listdir(os.path.join(path, "data"))}

    real = mf._commit
    raced = {"done": False}

    def racing(p, m):
        if not raced["done"]:
            raced["done"] = True
            latest = mf.read_manifest(p)
            real(p, {**latest, "version": latest["version"] + 1})
        real(p, m)

    monkeypatch.setattr(mf, "_commit", racing)
    man = mf.append_into(spark, path, extra)
    monkeypatch.undo()

    after = {d for d in os.listdir(os.path.join(path, "data"))}
    assert len(after - before) == 1  # exactly ONE new data directory
    assert man["version"] == 3  # seed=1, racer=2, retried append=3
    got = mf.read_table(spark, path)
    assert got.where(F.col("o_orderkey") >= 777_000).count() == 20


# --- r10 late additions: IN pruning, history/as-of, change feed -----


def test_in_list_predicate_prunes_to_key_buckets(spark, seeded):
    """`k IN (a, b, c)` resolves through partition_expr to the union
    of the keys' buckets — the multi-point lookup face of equality
    pruning; results stay oracle-equal and contradictions (empty
    intersection with an equality) prove emptiness without reading."""
    path, orders, _ = seeded
    keys = [r[0] for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()]
    far = orders.agg(F.max("o_orderkey")).first()[0]
    pred = f"o_orderkey in ({keys[0]}, {keys[1]}, {far})"
    dirs = mf.resolve_read_dirs(spark, path, pred)
    expect_buckets = {k // 256 for k in (keys[0], keys[1], far)}
    assert len(dirs) == len(expect_buckets)
    got = mf.read_table(spark, path, predicate=pred)
    want = mf.read_table(spark, path).where(pred)
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() == 3
    # equality AND a disjoint IN-list is provably empty: zero dirs read
    assert mf.resolve_read_dirs(
        spark, path, f"o_orderkey = {keys[0]} and o_orderkey in ({far})"
    ) == []
    assert mf.read_table(
        spark, path, predicate=f"o_orderkey = {keys[0]} and o_orderkey in ({far})"
    ).count() == 0


def test_history_and_timestamp_time_travel(spark, seeded):
    """Every commit stamps its op and wall-clock into the manifest:
    history() is the DESCRIBE HISTORY face, and read_table(as_of=ts)
    resolves the newest version committed at or before ts."""
    path, orders, _ = seeded
    v1_rows = _sorted_rows(mf.read_table(spark, path, version=1))
    mf.merge_into(spark, path, _changelog(orders, 0, 256))
    hist = mf.history(path)
    assert [h["op"] for h in hist] == ["create", "merge"]
    assert all(h["committed_at"] is not None for h in hist)
    t1 = hist[0]["committed_at"]
    assert mf.version_at(path, t1) == 1
    assert _sorted_rows(mf.read_table(spark, path, as_of=t1)) == v1_rows
    latest = _sorted_rows(mf.read_table(spark, path))
    assert _sorted_rows(mf.read_table(spark, path, as_of=hist[1]["committed_at"])) == latest
    with pytest.raises(FileNotFoundError):
        mf.version_at(path, t1 - 1000)
    with pytest.raises(ValueError):
        mf.read_table(spark, path, version=1, as_of=t1)


def test_change_feed_round_trips_through_cdc_merge(spark, seeded):
    """The CDF contract: read_changes(v_from, v_to) applied to
    snapshot@v_from via the standard cdc_merge reconstructs
    snapshot@v_to exactly — across a merge (updates + deletes +
    inserts) and an append."""
    path, orders, _ = seeded
    mf.merge_into(spark, path, _changelog(orders, 0, 512))        # v2
    extra = orders.orderBy("o_orderkey").limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 555_000
    )
    mf.append_into(spark, path, extra)                            # v3
    for v_from, v_to in ((1, 2), (2, 3), (1, 3)):
        snap_from = mf.read_table(spark, path, version=v_from)
        snap_to = _sorted_rows(mf.read_table(spark, path, version=v_to))
        changes = mf.read_changes(spark, path, v_from, v_to)
        rebuilt = cdc.cdc_merge(
            snap_from, changes, ["o_orderkey"], op_col="op", seq_col=None
        )
        assert _sorted_rows(rebuilt) == snap_to, (v_from, v_to)
    # the feed is bucket-bounded: a no-op pair yields zero rows
    assert mf.read_changes(spark, path, 3, 3).count() == 0
    with pytest.raises(ValueError):
        mf.read_changes(spark, path, 3, 1)


# --- schema evolution (VERDICT r10 item 1) ----------------------------
def _float_orders(spark, sf_dir):
    from mapreduce_cs416_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        "o_orderstatus",
    )


def _evolving_changelog(orders):
    """Key-local changelog (keys in [0, 512)) that ADDS a column
    (o_margin DOUBLE) and WIDENS o_totalprice float→double — high
    buckets keep their pre-evolution files, so reads cross the
    schema boundary."""
    k = F.col("o_orderkey")
    return (
        orders.where((k >= 0) & (k < 512))
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice").cast("double") + 10.0).alias("o_totalprice"),
            "o_orderstatus",
            (F.col("o_totalprice").cast("double") * 0.05).alias("o_margin"),
            F.when(k % 5 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            (k * 10).alias("seq"),
        )
    )


@pytest.fixture()
def float_seeded(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_float_tbl")
    orders = _float_orders(spark, sf_dir)
    man = mf.create_table(orders, path, ["o_orderkey"], partition_expr=RANGE_EXPR)
    return path, orders, man


def test_schema_evolution_add_column_and_widen_on_merge(spark, float_seeded):
    """Merging a changelog that adds o_margin and carries o_totalprice
    as DOUBLE evolves the schema under the same commit; a read at the
    new version crosses the boundary — untouched buckets' old files
    project to the evolved shape (NULL margin, float values up-cast
    bit-exactly) and the logical result equals the batch cdc_merge of
    the same evolved frames."""
    path, orders, _ = float_seeded
    batch = _evolving_changelog(orders)
    man2 = mf.merge_into(spark, path, batch)
    assert man2["columns"][-1] == "o_margin"
    got = mf.read_table(spark, path)
    assert dict(got.dtypes)["o_totalprice"] == "double"
    assert dict(got.dtypes)["o_margin"] == "double"
    evolved_base = orders.withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    ).withColumn("o_margin", F.lit(None).cast("double"))
    expected = cdc.cdc_merge(evolved_base, batch, ["o_orderkey"], op_col="op", seq_col="seq")
    assert _sorted_rows(got) == _sorted_rows(expected)
    # old-version read still returns the ORIGINAL (pre-evolution) shape
    v1 = mf.read_table(spark, path, version=1)
    assert "o_margin" not in v1.columns
    assert dict(v1.dtypes)["o_totalprice"] == "float"


def test_empty_merge_commits_only_a_schema_change(spark, float_seeded):
    """An empty changelog that adds o_margin and widens o_totalprice
    commits the evolved schema as a metadata-only version (no data
    directory staged); the same empty changelog again changes nothing
    and burns no version."""
    path, orders, _ = float_seeded
    empty = _evolving_changelog(orders).where(F.lit(False))
    man2 = mf.merge_into(spark, path, empty)
    assert man2["version"] == mf.current_version(path) == 2
    got = mf.read_table(spark, path)
    assert dict(got.dtypes)["o_margin"] == "double"
    assert dict(got.dtypes)["o_totalprice"] == "double"
    assert man2["buckets"] == mf.read_manifest(path, 1)["buckets"]
    assert got.where(F.col("o_margin").isNotNull()).count() == 0
    assert mf.merge_into(spark, path, empty)["version"] == 2
    assert mf.current_version(path) == 2


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    """Every table in ``TABLES`` with its schema and no rows."""
    import pyarrow.parquet as pq

    from mapreduce_cs416_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("empty_sf")
    for name in TABLES:
        schema = pq.read_schema(os.path.join(sf_dir, f"{name}.parquet"))
        pq.write_table(schema.empty_table(), str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", ["cdc_change_feed", "cdc_merge_schema_evolution"])
def test_cdc_queries_match_oracle_on_empty_tables(spark, empty_sf_dir, name):
    """The empty merge these queries run commits no data: the change
    feed diffs v1 against the version the merge committed (v1 itself),
    and the schema evolution still adds o_margin."""
    from mapreduce_cs416_spark.plans.registry import ALL_QUERIES
    from mapreduce_cs416_spark.testing import compare_query

    spec = ALL_QUERIES[name]
    ok, msg = compare_query(spark, spec.fn, spec.oracle, empty_sf_dir)
    assert ok, msg


def test_schema_evolution_keeps_pruning_io_pinned(spark, float_seeded):
    """Mixed-version point lookups still read exactly ONE bucket
    directory on both sides of the evolution boundary, and the new
    column's stats prune once written."""
    path, orders, _ = float_seeded
    mf.merge_into(spark, path, _evolving_changelog(orders))
    all_dirs = mf.resolve_read_dirs(spark, path)
    lo = orders.where("o_orderkey < 512 and o_orderkey % 5 <> 0").first()[0]
    hi = orders.where("o_orderkey >= 512").agg(F.max("o_orderkey")).first()[0]
    for key in (lo, hi):  # touched-evolved and untouched-old buckets
        dirs = mf.resolve_read_dirs(spark, path, f"o_orderkey = {key}")
        assert len(dirs) == 1
        got = mf.read_table(spark, path, predicate=f"o_orderkey = {key}")
        want = mf.read_table(spark, path).where(f"o_orderkey = {key}")
        assert _sorted_rows(got) == _sorted_rows(want)
    # a range predicate on the ADDED column prunes: old directories
    # carry no o_margin stats (kept — pruning stays conservative), new
    # ones do
    pruned = mf.resolve_read_dirs(spark, path, "o_margin > 1e18")
    assert len(pruned) < len(all_dirs)


def test_schema_evolution_rejects_unsafe_changes(spark, float_seeded):
    path, orders, _ = float_seeded
    base = orders.limit(8)
    # narrowing a non-key column (float -> int) and type flips raise
    bad_narrow = base.select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        "o_orderstatus",
    ).withColumn("op", F.lit("U")).withColumn("seq", F.lit(1))
    with pytest.raises(ValueError, match="unsafe schema change"):
        mf.merge_into(spark, path, bad_narrow)
    # widening a KEY column is rejected (bucket hash replays the type)
    bad_key = base.select(
        F.col("o_orderkey").cast("decimal(38,0)").alias("o_orderkey"),
        "o_custkey", "o_totalprice", "o_orderstatus",
    ).withColumn("op", F.lit("U")).withColumn("seq", F.lit(1))
    with pytest.raises(ValueError, match="key column"):
        mf.merge_into(spark, path, bad_key)
    # nothing was committed by either attempt
    assert mf.current_version(path) == 1


def test_schema_evolution_append_and_change_feed_cross_boundary(spark, float_seeded):
    """append_into evolves too, and read_changes spanning the boundary
    emits old images projected to the evolved shape so the feed
    round-trips through cdc_merge onto the evolved v1 image."""
    path, orders, _ = float_seeded
    new_rows = (
        orders.orderBy("o_orderkey").limit(5)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderstatus",
            F.lit(1.25).alias("o_margin"),
        )
    )
    man2 = mf.append_into(spark, path, new_rows)
    assert man2["columns"][-1] == "o_margin"
    got = mf.read_table(spark, path)
    assert got.count() == orders.count() + 5
    feed = mf.read_changes(spark, path, 1, 2).localCheckpoint()
    v1_evolved = (
        mf.read_table(spark, path, version=1)
        .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
        .withColumn("o_margin", F.lit(None).cast("double"))
    )
    replayed = cdc.cdc_merge(v1_evolved, feed, ["o_orderkey"], op_col="op", seq_col=None)
    assert _sorted_rows(replayed) == _sorted_rows(got)


def test_schema_evolution_narrower_write_upcasts(spark, sf_dir, tmp_path):
    """A changelog carrying a column NARROWER than the stored type
    (int into a long column, float into double) is up-cast losslessly
    — the schema does not change and keys hash at the stored type, so
    the rows route to their existing buckets (no resurrected stale
    copies)."""
    orders = _orders(spark, sf_dir)  # o_orderkey long, o_totalprice double
    path = str(tmp_path / "narrow_tbl")
    mf.create_table(orders, path, ["o_orderkey"], partition_expr=RANGE_EXPR)
    first = orders.orderBy("o_orderkey").limit(3)
    batch = first.select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_custkey",
        (F.col("o_totalprice").cast("float") * 0 + 42.5).cast("float").alias("o_totalprice"),
        "o_orderstatus",
    ).withColumn("op", F.lit("U")).withColumn("seq", F.lit(10**9))
    man = mf.merge_into(spark, path, batch)
    assert mf._schema_of(man) == orders.schema  # unchanged
    got = mf.read_table(spark, path)
    assert got.count() == orders.count()  # updated in place, not duplicated
    assert got.where("o_totalprice = 42.5").count() == 3


# --- delete_from + OR/BETWEEN pruning (VERDICT r10 items 3 & 5) -------
def _disk_snapshot(path, manifest):
    out = {}
    for b, rels in manifest["buckets"].items():
        for rel in rels:
            d = os.path.join(path, rel, f"_bucket={b}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    out[fp] = (os.path.getsize(fp), os.path.getmtime(fp))
    return out


def test_delete_from_prunes_and_keeps_untouched_files(spark, seeded):
    """DELETE with a range predicate rewrites ONLY the overlapping
    bucket directories; everything else stays byte-identical, the
    result equals read-minus-matching, and the pre-delete version
    stays time-travel readable."""
    path, orders, man1 = seeded
    snap = _disk_snapshot(path, man1)
    pred = "o_orderkey >= 256 and o_orderkey < 512"
    n_match = orders.where(pred).count()
    assert n_match > 0
    man2 = mf.delete_from(spark, path, pred)
    assert man2["op"] == "delete" and man2["version"] == 2
    # only partition 1 (floor(k/256) == 1) was rewritten
    changed = {b for b in man1["buckets"] if man2["buckets"].get(b) != man1["buckets"][b]}
    assert changed == {"1"}
    for b in set(man1["buckets"]) - changed:
        for rel in man1["buckets"][b]:
            d = os.path.join(path, rel, f"_bucket={b}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    assert (os.path.getsize(fp), os.path.getmtime(fp)) == snap[fp]
    got = mf.read_table(spark, path)
    want = orders.where(f"not ({pred})")
    assert _sorted_rows(got) == _sorted_rows(want)
    assert _sorted_rows(mf.read_table(spark, path, version=1)) == _sorted_rows(orders)


def test_delete_from_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    are KEPT (a plain NOT(pred) filter would drop them)."""
    path = str(tmp_path / "null_tbl")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    mf.create_table(df, path, ["k"], partition_expr="pmod(k, 4)")
    mf.delete_from(spark, path, "v > 15")
    got = _sorted_rows(mf.read_table(spark, path))
    assert got == [(1, 10.0), (2, None)]


def test_delete_from_no_match_commits_nothing(spark, seeded):
    path, _, man1 = seeded
    man = mf.delete_from(spark, path, "o_orderkey = -17")
    assert man["version"] == man1["version"]
    assert mf.current_version(path) == 1


def test_delete_from_rewrites_only_matching_segments_of_a_bucket(spark, seeded):
    """Directory-granular deletes: a bucket holding two appended
    segments with disjoint o_totalprice stats rewrites only the
    segment the predicate can match — the other segment directory is
    carried over byte-identical (write amplification bounded by the
    matching segments, measured here, not the whole bucket)."""
    path, orders, _ = seeded
    # same keys (append is the raw-log face — duplicates allowed), so
    # the new segment lands in the SAME buckets as the seed, with a
    # disjoint o_totalprice range for the stats to separate
    seg2 = orders.where("o_orderkey < 100").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1_000_000.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    man2 = mf.append_into(spark, path, seg2)
    assert any(len(rels) == 2 for rels in man2["buckets"].values())
    n_before = mf.read_table(spark, path).count()
    pred = "o_totalprice >= 1000000"
    man3 = mf.delete_from(spark, path, pred)
    # every seed (v1) directory survived in place — the delete only
    # rewrote the appended segment of the shared bucket
    v1_rels = {r for rels in mf.read_manifest(path, 1)["buckets"].values() for r in rels}
    survived = {r for rels in man3["buckets"].values() for r in rels if r in v1_rels}
    assert survived == v1_rels  # no seed directory was rewritten
    got = mf.read_table(spark, path)
    assert got.count() == n_before - seg2.count()
    assert got.where(pred).count() == 0


def test_between_and_or_equalities_prune(spark, seeded):
    path, orders, _ = seeded
    n_all = len(mf.resolve_read_dirs(spark, path))
    between = "o_orderkey between 256 and 511"
    assert len(mf.resolve_read_dirs(spark, path, between)) < n_all
    got = mf.read_table(spark, path, predicate=between)
    assert _sorted_rows(got) == _sorted_rows(orders.where(between))
    or_eq = "(o_orderkey = 100 or o_orderkey = 700)"
    dirs = mf.resolve_read_dirs(spark, path, or_eq)
    assert len(dirs) == 2  # partitions 0 and 2 exactly
    got = mf.read_table(spark, path, predicate=or_eq)
    assert _sorted_rows(got) == _sorted_rows(orders.where(or_eq))
    # mixed-column OR still degrades to a full scan — but never errs
    mixed = "o_orderkey = 100 or o_custkey = 7"
    assert len(mf.resolve_read_dirs(spark, path, mixed)) == n_all
    # NOT BETWEEN degrades whole (no mangled rewrite)
    nb = "o_orderkey not between 256 and 511"
    assert len(mf.resolve_read_dirs(spark, path, nb)) == n_all
    assert _sorted_rows(mf.read_table(spark, path, predicate=nb)) == _sorted_rows(
        orders.where(nb)
    )


def test_pruned_read_equals_full_read_fuzz(spark, seeded):
    """Property pin over random predicate shapes (VERDICT r10 item 5):
    for every generated predicate, pruned read ≡ full read + filter —
    the 'pruning can never change results' contract under BETWEEN,
    OR-chains, IN, ranges, string literals containing keywords, NOT,
    and unparseable noise."""
    import random

    path, orders, _ = seeded
    rng = random.Random(416)
    full = mf.read_table(spark, path)

    def lit_key():
        return rng.randrange(0, 1200)

    shapes = [
        lambda: f"o_orderkey = {lit_key()}",
        lambda: f"o_orderkey between {lit_key()} and {lit_key()}",
        lambda: f"(o_orderkey = {lit_key()} or o_orderkey = {lit_key()} or o_orderkey = {lit_key()})",
        lambda: f"o_orderkey in ({lit_key()}, {lit_key()})",
        lambda: f"o_orderkey >= {lit_key()} and o_totalprice < {rng.uniform(0, 300000):.2f}",
        lambda: f"o_orderstatus = 'F' and o_orderkey < {lit_key()}",
        lambda: "o_orderstatus = 'x and o_orderkey = 3'",
        lambda: f"not (o_orderkey = {lit_key()})",
        lambda: f"o_orderkey not between {lit_key()} and {lit_key()}",
        lambda: f"o_orderkey % 7 = {rng.randrange(7)}",
        lambda: f"o_custkey = {rng.randrange(0, 200)} or o_orderkey = {lit_key()}",
        lambda: f"o_orderkey between {lit_key()} and {lit_key()} and o_orderstatus in ('O', 'F')",
    ]
    for i in range(36):
        pred = shapes[i % len(shapes)]()
        got = mf.read_table(spark, path, predicate=pred)
        want = full.where(pred)
        assert _sorted_rows(got) == _sorted_rows(want), pred


def test_one_row_delete_amplification_is_one_bucket_dir(spark, seeded):
    """Pin the documented write-amplification of copy-on-write
    deletes: deleting ONE row rewrites exactly its one bucket
    directory — amplification == that directory's byte size, not the
    table (deletion vectors are the production refinement; see
    delete_from's docstring)."""
    path, orders, man1 = seeded
    key = orders.where("o_orderkey >= 256 and o_orderkey < 512").first()[0]
    total_bytes = sum(sz for sz, _ in _disk_snapshot(path, man1).values())
    man2 = mf.delete_from(spark, path, f"o_orderkey = {key}")
    changed = {b for b in man1["buckets"] if man2["buckets"].get(b) != man1["buckets"][b]}
    assert changed == {"1"}  # one bucket directory rewritten
    new_rel = man2["buckets"]["1"][0]
    d = os.path.join(path, new_rel, "_bucket=1")
    rewritten_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d) if f.endswith(".parquet")
    )
    # amplification is bucket-sized: far below the table, far above 1 row
    assert 0 < rewritten_bytes < total_bytes / 2
    assert mf.read_table(spark, path).where(f"o_orderkey = {key}").count() == 0
    assert mf.read_table(spark, path).count() == orders.count() - 1


# --- z-ordered compaction (VERDICT r10 item 8) ------------------------
def test_zorder_compact_improves_range_pruning(spark, sf_dir, tmp_path):
    """After a z-ordered compact on o_totalprice, a selective range
    predicate opens STRICTLY FEWER directories than before (the
    append-ordered layout gives every directory the full value range,
    so nothing prunes), results stay hash-equal, and vacuum
    understands the sliced layout."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "z_tbl")
    # hash buckets ensure o_totalprice is uniformly spread per bucket
    mf.create_table(orders, path, ["o_orderkey"], n_buckets=4)
    # two appends fragment every bucket with the same wide value range
    for shift in (20_000_000, 40_000_000):
        mf.append_into(
            spark, path,
            orders.limit(400).withColumn(
                "o_orderkey", F.col("o_orderkey") + shift
            ),
        )
    before_all = _sorted_rows(mf.read_table(spark, path))
    lo = orders.agg(F.expr("percentile(o_totalprice, 0.1)")).first()[0]
    pred = f"o_totalprice < {lo}"
    dirs_before = len(mf.resolve_read_dirs(spark, path, pred))
    n_dirs_before = len(mf.resolve_read_dirs(spark, path))
    assert dirs_before == n_dirs_before  # appends: nothing prunes

    # a deletion-vector delete right before the re-cluster: the
    # z-ordered rewrite must fold the tombstones and clear them
    victim = mf.read_table(spark, path).first()[0]
    mf.delete_from(spark, path, f"o_orderkey = {victim}", mode="dv")
    before_all = [r for r in before_all if r[0] != victim]

    man = mf.compact(spark, path, zorder_by=["o_totalprice"], n_slices=4)
    assert man["op"] == "compact" and not man.get("dvs")
    assert _sorted_rows(mf.read_table(spark, path)) == before_all  # hash-equal
    dirs_after = len(mf.resolve_read_dirs(spark, path, pred))
    assert dirs_after < len(mf.resolve_read_dirs(spark, path))
    assert dirs_after < dirs_before
    got = mf.read_table(spark, path, predicate=pred)
    assert _sorted_rows(got) == _sorted_rows(
        mf.read_table(spark, path).where(pred)
    )
    # vacuum reclaims the superseded layout but never the sliced live one
    removed = mf.vacuum(path, keep_versions=1, orphan_min_age_s=0.0)
    assert removed > 0
    assert _sorted_rows(mf.read_table(spark, path)) == before_all


def test_zorder_compact_two_columns_prunes_both(spark, sf_dir, tmp_path):
    """Two-column Z-order: range predicates on EITHER clustered column
    prune after compaction (the property a lexicographic sort cannot
    give the second column)."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "z2_tbl")
    mf.create_table(orders, path, ["o_orderkey"], n_buckets=2)
    mf.append_into(spark, path, orders.limit(300).withColumn(
        "o_orderkey", F.col("o_orderkey") + 30_000_000))
    before = _sorted_rows(mf.read_table(spark, path))
    mf.compact(spark, path, zorder_by=["o_custkey", "o_totalprice"], n_slices=8)
    assert _sorted_rows(mf.read_table(spark, path)) == before
    n_all = len(mf.resolve_read_dirs(spark, path))
    for col in ("o_custkey", "o_totalprice"):
        mx = mf.read_table(spark, path).agg(F.max(col)).first()[0]
        pred = f"{col} > {mx * 0.95}"
        assert len(mf.resolve_read_dirs(spark, path, pred)) < n_all, col
        got = mf.read_table(spark, path, predicate=pred)
        assert _sorted_rows(got) == _sorted_rows(
            mf.read_table(spark, path).where(pred)
        )


# --- streaming CDF consumer (VERDICT r10 item 2) ----------------------
def test_streaming_view_maintenance_cdf_matches_recompute(spark, sf_dir, tmp_path):
    """The view consumer fed from the table's OWN change data feed:
    stream==batch for the maintained view, exactly-once via the
    atomic view+cursor commit, and replay absorption — a re-delivered
    trigger at cursor==latest consumes nothing and commits nothing."""
    from mapreduce_cs416_spark.operators import ivm
    from mapreduce_cs416_spark.streaming import pipelines as sp

    orders = _orders(spark, sf_dir)
    group, measures = ["o_custkey"], {"revenue": "o_totalprice"}
    src = str(tmp_path / "src_tbl")
    vw = str(tmp_path / "view_tbl")
    mf.create_table(orders, src, ["o_orderkey"], partition_expr=RANGE_EXPR)
    seeded_at = ivm.seed_cdf_view(spark, src, vw, group, measures)
    assert seeded_at == 1

    batches = [_changelog(orders, i * 256, (i + 1) * 256) for i in range(2)]
    change_dir = str(tmp_path / "changes")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{change_dir}/bat={i}")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batches[0].schema.fields
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{change_dir}/bat=*")
    )
    q = sp.streaming_view_maintenance_cdf(
        stream, src, vw, ["o_orderkey"], group, measures
    )
    q.awaitTermination()

    merged = mf.read_table(spark, src)
    got = _sorted_rows(ivm.finalize(mf.read_table(spark, vw), group))
    want = _sorted_rows(ivm.finalize(ivm.build_view(merged, group, measures), group))
    assert got == want
    # cursor advanced to the source head
    assert int(mf.read_aux(spark, vw, "cursor").first()["version"]) == mf.current_version(src)

    # replay absorption: nothing new → zero versions consumed, zero
    # commits, view byte-stable
    v_before = mf.current_version(vw)
    assert ivm.cdf_view_step(spark, src, vw, ["o_orderkey"], group, measures) == 0
    assert mf.current_version(vw) == v_before
    assert _sorted_rows(ivm.finalize(mf.read_table(spark, vw), group)) == want

    # a fresh source commit advances the consumer by exactly one range
    extra = _changelog(orders, 512, 768)
    mf.merge_into(spark, src, extra)
    consumed = ivm.cdf_view_step(spark, src, vw, ["o_orderkey"], group, measures)
    assert consumed == 1
    merged2 = mf.read_table(spark, src)
    got2 = _sorted_rows(ivm.finalize(mf.read_table(spark, vw), group))
    assert got2 == _sorted_rows(
        ivm.finalize(ivm.build_view(merged2, group, measures), group)
    )


# --- deletion vectors (the production delete form) --------------------
def test_dv_delete_touches_no_data_file_and_equals_copy_on_write(spark, seeded, tmp_path):
    """mode='dv': tombstones only — every data directory stays
    byte-identical, the visible rows equal the copy-on-write result,
    time travel still sees the pre-delete image, and the tombstone
    write is measured tiny (the 1-row-delete amplification fix)."""
    path, orders, man1 = seeded
    snap = _disk_snapshot(path, man1)
    pred = "o_orderkey >= 256 and o_orderkey < 512"
    man2 = mf.delete_from(spark, path, pred, mode="dv")
    assert man2["op"] == "delete-dv"
    assert man2["buckets"] == man1["buckets"]  # no data entry changed
    assert _disk_snapshot(path, man2) == snap  # no data file touched
    got = _sorted_rows(mf.read_table(spark, path))
    assert got == _sorted_rows(orders.where(f"not ({pred})"))
    assert _sorted_rows(mf.read_table(spark, path, version=1)) == _sorted_rows(orders)
    # copy-on-write twin on a second table: identical answers
    path2 = str(tmp_path / "cow_twin")
    mf.create_table(orders, path2, ["o_orderkey"], partition_expr=RANGE_EXPR)
    mf.delete_from(spark, path2, pred)
    assert got == _sorted_rows(mf.read_table(spark, path2))
    # amplification: the DV rel holds only tombstone-sized files
    dv_rel = man2["dvs"]["1"][0]
    d = os.path.join(path, dv_rel, "_bucket=1")
    dv_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
    )
    data_bytes = sum(sz for sz, _ in snap.values())
    assert 0 < dv_bytes < data_bytes / 10


def test_dv_one_row_delete_writes_one_tombstone(spark, seeded):
    path, orders, man1 = seeded
    key = orders.where("o_orderkey >= 256 and o_orderkey < 512").first()[0]
    man2 = mf.delete_from(spark, path, f"o_orderkey = {key}", mode="dv")
    assert man2["buckets"] == man1["buckets"]
    dv = spark.read.schema(mf._DV_SCHEMA).parquet(
        *mf._dv_dirs(path, man2, [1])
    )
    assert dv.count() == 1
    assert mf.read_table(spark, path).count() == orders.count() - 1


def test_dv_deletes_duplicate_rows_individually(spark, tmp_path):
    """Row-position identity: on an append-log table with DUPLICATE
    key rows, a predicate delete removes exactly the matching rows —
    key-based tombstones would have removed all copies."""
    path = str(tmp_path / "dup_tbl")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    mf.create_table(df, path, ["k"], partition_expr="pmod(k, 2)")
    mf.append_into(
        spark, path, spark.createDataFrame([(1, 99.0), (2, 20.0)], "k long, v double")
    )
    mf.delete_from(spark, path, "v = 99", mode="dv")
    assert _sorted_rows(mf.read_table(spark, path)) == [
        (1, 10.0), (2, 20.0), (2, 20.0),
    ]
    # and deleting v = 20 removes BOTH copies (each its own tombstone)
    mf.delete_from(spark, path, "v = 20", mode="dv")
    assert _sorted_rows(mf.read_table(spark, path)) == [(1, 10.0)]


def test_dv_merge_and_compact_fold_and_clear_tombstones(spark, seeded):
    """A deleted row must not resurrect through a merge; rewriting ops
    fold DVs into plain files and clear the bucket's tombstone list;
    a DV-only bucket is a compaction target even with one directory."""
    path, orders, _ = seeded
    pred = "o_orderkey >= 256 and o_orderkey < 300"
    man2 = mf.delete_from(spark, path, pred, mode="dv")
    assert man2["dvs"]
    want_after_delete = _sorted_rows(mf.read_table(spark, path))
    # merge a changelog into the SAME bucket range: deleted keys stay
    # gone unless the changelog re-inserts them
    batch = _changelog(orders, 300, 512)
    expected = cdc.cdc_merge(
        mf.read_table(spark, path), batch, ["o_orderkey"], op_col="op", seq_col="seq"
    )
    man3 = mf.merge_into(spark, path, batch)
    assert _sorted_rows(mf.read_table(spark, path)) == _sorted_rows(expected)
    assert "1" not in man3.get("dvs", {})  # bucket 1 rewritten → cleared
    # fresh DV then plain compact folds it
    mf.delete_from(spark, path, "o_orderkey = 600", mode="dv")
    n = mf.read_table(spark, path).count()
    man4 = mf.compact(spark, path)
    assert man4["op"] == "compact" and not man4.get("dvs")
    assert mf.read_table(spark, path).count() == n
    # vacuum reclaims superseded versions, current image intact
    latest = _sorted_rows(mf.read_table(spark, path))
    mf.vacuum(path, keep_versions=1, orphan_min_age_s=0.0)
    assert _sorted_rows(mf.read_table(spark, path)) == latest


def test_dv_change_feed_sees_tombstoned_rows_as_deletes(spark, seeded):
    """read_changes across a DV-only commit: the bucket's directory
    list is unchanged, but the feed must still emit 'D' rows for the
    tombstoned keys and round-trip through cdc_merge."""
    path, orders, _ = seeded
    pred = "o_orderkey >= 256 and o_orderkey < 300"
    mf.delete_from(spark, path, pred, mode="dv")
    feed = mf.read_changes(spark, path, 1, 2).localCheckpoint()
    assert feed.where("op = 'U'").count() == 0
    n_del = orders.where(pred).count()
    assert feed.where("op = 'D'").count() == n_del
    replayed = cdc.cdc_merge(
        mf.read_table(spark, path, version=1), feed, ["o_orderkey"],
        op_col="op", seq_col=None,
    )
    assert _sorted_rows(replayed) == _sorted_rows(mf.read_table(spark, path))


# --- partition-spec evolution (repartition_table, r11) ------------------


def test_repartition_preserves_rows_and_retargets_pruning(spark, seeded):
    path, orders, _ = seeded  # seeded uses the RANGE layout
    before = _sorted_rows(mf.read_table(spark, path))
    man = mf.repartition_table(spark, path, n_buckets=8)  # → default hash layout
    assert man["op"] == "repartition"
    assert man["partition_expr"] == mf.default_partition_expr(["o_orderkey"], 8)
    assert _sorted_rows(mf.read_table(spark, path)) == before
    # point lookup prunes through the NEW expression to one directory
    key = mf.read_table(spark, path).agg(F.min("o_orderkey")).collect()[0][0]
    dirs = mf.resolve_read_dirs(spark, path, f"o_orderkey = {key}")
    assert len(dirs) == 1
    assert mf.read_table(spark, path, predicate=f"o_orderkey = {key}").count() == 1


def test_repartition_range_layout_improves_range_pruning(spark, seeded):
    path, _, _ = seeded
    # coarsen: hash first (destroys range locality), then back to range
    mf.repartition_table(spark, path, n_buckets=8)
    hash_dirs = len(mf.resolve_read_dirs(spark, path, "o_orderkey < 256"))
    mf.repartition_table(spark, path, partition_expr=RANGE_EXPR)
    range_dirs = len(mf.resolve_read_dirs(spark, path, "o_orderkey < 256"))
    assert range_dirs < hash_dirs
    assert range_dirs == 1


def test_repartition_is_invisible_to_the_change_feed(spark, seeded):
    path, _, _ = seeded
    v0 = mf.current_version(path)
    mf.repartition_table(spark, path, n_buckets=4)
    feed = mf.read_changes(spark, path, v0, mf.current_version(path))
    assert feed.count() == 0  # same rows, new layout: zero logical change


def test_repartition_folds_deletion_vectors(spark, seeded):
    path, orders, _ = seeded
    key = orders.agg(F.min("o_orderkey")).collect()[0][0]
    mf.delete_from(spark, path, f"o_orderkey = {key}", mode="dv")
    man = mf.repartition_table(spark, path, n_buckets=4)
    assert man.get("dvs") == {}
    assert mf.read_table(spark, path).filter(f"o_orderkey = {key}").count() == 0


def test_repartition_keeps_time_travel_to_old_layout(spark, seeded):
    path, orders, _ = seeded
    v1 = mf.current_version(path)
    mf.repartition_table(spark, path, n_buckets=4)
    old = mf.read_table(spark, path, version=v1)
    assert _sorted_rows(old) == _sorted_rows(orders)


def test_native_sink_refuses_to_commit_across_a_repartition(spark, seeded):
    import pyarrow as pa

    from mapreduce_cs416_spark.sources.manifest_sink import ManifestStreamWriter

    path, orders, _ = seeded
    mf.repartition_table(spark, path, n_buckets=4)  # default hash layout (sink-able)
    w = ManifestStreamWriter({"path": path, "sinkId": "t"}, mf._schema_of(mf.read_manifest(path)))
    batch = pa.table(
        {
            "o_orderkey": [20_000_000],
            "o_custkey": [1],
            "o_totalprice": [1.0],
            "o_orderstatus": ["O"],
        }
    )
    msg = w.write(iter(batch.cast(batch.schema).to_batches()))
    # the table is repartitioned UNDER the running sink
    mf.repartition_table(spark, path, n_buckets=2)
    rows_before = mf.read_table(spark, path).count()
    with pytest.raises(RuntimeError, match="repartitioned"):
        w.commit([msg], batchId=0)
    assert not os.path.isdir(os.path.join(path, msg.rel))  # staging discarded
    assert mf.read_table(spark, path).count() == rows_before  # nothing leaked


def test_restore_table_rolls_back_as_a_new_commit(spark, seeded):
    """r14 RESTORE (Delta's shape): a new commit whose visible state
    equals an earlier version — no data copied, bad versions stay
    readable until vacuum, stream cursors and properties carry
    FORWARD (a sink cursor rolled back would absorb live batches)."""
    path, orders, _ = seeded
    before = _sorted_rows(mf.read_table(spark, path))
    mf.merge_into(spark, path, _changelog(orders, 0, 512))  # v2
    mf.delete_from(spark, path, "o_orderkey >= 2048")  # v3
    mf.set_properties(path, {"owner": "t"})  # v4
    assert _sorted_rows(mf.read_table(spark, path)) != before
    man = mf.restore_table(path, version=1)  # v5
    assert man["version"] == 5 and man["op"] == "restore"
    assert man["restored_from"] == 1
    # visible state is exactly v1 again, through a NEW version
    assert _sorted_rows(mf.read_table(spark, path)) == before
    # history intact: the undone versions still time-travel
    assert mf.read_table(spark, path, version=3).count() < len(before)
    # current-side metadata carried forward, not rolled back
    assert mf.read_manifest(path)["properties"] == {"owner": "t"}
    # restoring to the head is a no-op (no version burn)
    assert mf.restore_table(path, version=5)["version"] == 5
    # vacuum after restore keeps the restored state readable
    mf.vacuum(path, keep_versions=1, orphan_min_age_s=0.0)
    assert _sorted_rows(mf.read_table(spark, path)) == before
    # the timestamp face resolves through version_at
    with pytest.raises(ValueError, match="exactly one"):
        mf.restore_table(path)


def test_restore_group_returns_a_consistent_pair(spark, tmp_path):
    from mapreduce_cs416_spark.operators import ivm
    from mapreduce_cs416_spark.sources import table_group as tg

    root = str(tmp_path / "grp")
    facts = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 7.0)], "k long, g string, v double"
    )
    tg.create_group(
        spark, root,
        {
            "facts": {"df": facts, "key_cols": ["k"], "n_buckets": 2},
            "view": {"df": ivm.build_view(facts, ["g"], {"t": "v"}),
                     "key_cols": ["g"], "n_buckets": 1},
        },
    )
    ch = spark.createDataFrame(
        [(1, "a", 99.0, "U", 1)], "k long, g string, v double, op string, seq long"
    )

    def _fresh(s, r, version):
        snap = tg.read_group_table(s, r, "facts", version=version)
        view = tg.read_group_table(s, r, "view", version=version)
        return ivm.merge_deltas(
            view, ivm.delta_view(snap, ch, ["k"], ["g"], {"t": "v"}), ["g"]
        )

    tg.group_transact(spark, root, merges={"facts": ch}, replaces={"view": _fresh})
    mf.restore_table(root, version=1)
    got = {(r["k"], r["v"]) for r in tg.read_group_table(spark, root, "facts").collect()}
    assert got == {(1, 10.0), (2, 7.0)}
    view = {
        r["g"]: r["t"]
        for r in tg.read_group_table(spark, root, "view").collect()
    }
    assert view == {"a": 10.0, "b": 7.0}
