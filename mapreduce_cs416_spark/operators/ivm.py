"""Incremental view maintenance (IVM): keep a materialized aggregate
current under a CDC changelog WITHOUT rescanning the fact table.

The lakehouse pattern this completes: operators/cdc.py maintains the
*snapshot* under a changelog; this module maintains *aggregates over
the snapshot* from the same changelog, by the classic delta-rule for
abelian-group measures (count / sum, and anything derived from them
such as avg): every change contributes a retraction of the old row
image (weight −1) and an assertion of the new one (weight +1), and
the view absorbs per-group delta sums. max/min are deliberately NOT
offered — they are not retractable without auxiliary state, and a
silent wrong answer is worse than an explicit recompute.

Exactness discipline: measure sums are carried as DECIMAL(25,6)
(functions/numeric.decimal_sum's rule) from the first partial
aggregate through every retraction and merge, so incremental
maintenance is EXACTLY equal to recomputation — not merely close —
on any partitioning and any batch order. The driver oracle exploits
this: Spark runs the incremental path, DuckDB recomputes from the
merged snapshot, and the value hashes must agree bit-for-bit.

Scale shape (100 TB facts, GB-scale changelog):
- ``build_view`` is the one full scan (paid once, at view creation);
  one shuffle on the group key with map-side partial aggregation.
- ``delta_view`` touches the fact table with ONE key equi-join (to
  recover old row images for retraction) — changelog-sized output,
  broadcast-convertible under AQE since the resolved changelog is
  small; everything downstream is delta-sized. With a CDC feed that
  carries before-images (Debezium-style), pass them as ``base`` and
  even that join disappears.
- ``merge_deltas`` is union + re-aggregate on the group key: the
  view shuffles once; groups whose count reaches zero drop out,
  matching recomputation exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import DEC
from .cdc import latest_changes
from .checkpoints import free


def build_view(
    facts: DataFrame, group_cols: list[str], measures: dict[str, str]
) -> DataFrame:
    """Materialize the aggregate view: per group, ``_n`` (row count)
    and one exact DECIMAL sum per measure (out_name -> fact column).
    The only full-fact-scan operator in the module."""
    return facts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.col(c).cast(DEC)).alias(name) for name, c in measures.items()],
    )


def delta_view(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    measures: dict[str, str],
    op_col: str = "op",
    seq_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Per-group delta aggregate from a CDC changelog (same contract
    as cdc.cdc_merge: full new payload per change row, ``delete_op``
    rows delete the key, ``seq_col`` resolves per-key conflicts).

    Old row images are recovered with one left-semi-shaped equi-join
    of the fact table against the resolved change keys and retracted
    at weight −1; non-delete new payloads assert at weight +1. An
    update that MOVES a row between groups therefore yields the
    correct −1/+1 across both groups. Output is delta-sized."""
    resolved = (
        latest_changes(changes, key_cols, seq_col) if seq_col else changes
    ).localCheckpoint()

    def weighted(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            *group_cols,
            F.lit(sign).cast("long").alias("_w"),
            *[
                (F.col(c).cast(DEC) * sign).alias(name)
                for name, c in measures.items()
            ],
        )

    old = weighted(base.join(resolved.select(*key_cols), key_cols, "left_semi"), -1)
    new = weighted(resolved.filter(F.col(op_col) != delete_op), 1)
    return (
        old.unionByName(new)
        .groupBy(*group_cols)
        .agg(
            F.sum("_w").alias("_n"),
            *[F.sum(name).alias(name) for name in measures],
        )
    )


def merge_deltas(
    view: DataFrame, deltas: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Absorb a delta aggregate into the view: union + one re-aggregate
    on the group key (map-side combinable; no join). Groups whose
    maintained count reaches zero are dropped — the result is
    EXACTLY ``build_view`` of the merged snapshot."""
    measures = [c for c in view.columns if c not in (*group_cols, "_n")]
    merged = (
        view.unionByName(deltas.select(*view.columns))
        .groupBy(*group_cols)
        .agg(
            F.sum("_n").alias("_n"),
            *[F.sum(c).alias(c) for c in measures],
        )
    )
    return merged.where(F.col("_n") > 0)


def seed_cdf_view(
    spark,
    source_path: str,
    view_path: str,
    group_cols: list[str],
    measures: dict[str, str],
    n_buckets: int = 8,
) -> int:
    """Seed the change-data-feed view consumer (VERDICT r10 item 2):
    materialize ``build_view`` of the source manifest table's CURRENT
    committed snapshot as its OWN manifest table keyed by the group
    columns, with the source-version CURSOR committed as an aux frame
    of the same atomic publish. Returns the seeded cursor version."""
    from ..sources import manifest as mf

    v = mf.current_version(source_path)
    view = build_view(mf.read_table(spark, source_path, version=v), group_cols, measures)
    cursor = spark.createDataFrame([(v,)], "version int")
    mf.create_table(view, view_path, group_cols, n_buckets=n_buckets, aux={"cursor": cursor})
    return v


def cdf_view_step(
    spark,
    source_path: str,
    view_path: str,
    key_cols: list[str],
    group_cols: list[str],
    measures: dict[str, str],
    op_col: str = "op",
) -> int:
    """ONE advance of the streaming change-data-feed consumer: tail
    the source table's own CDF from the persisted version cursor
    (never the raw changelog — the decoupling Delta's readChangeFeed
    streaming gives downstream consumers), fold the delta into the
    materialized view, and commit view + advanced cursor under ONE
    put-if-absent manifest publish. Returns the number of source
    versions consumed (0 = nothing new).

    Exactly-once without a batch ledger: the cursor rides the same
    atomic commit as the view data, so a crash anywhere before the
    publish leaves both at the previous state and the rerun applies
    the range exactly once; a re-delivered trigger finds cursor ==
    latest and is absorbed with ZERO delta and zero data I/O
    (test-pinned). I/O per advance is bounded end to end:
    ``manifest.read_changed_sides`` reads only buckets whose
    directory or deletion-vector lists differ between cursor and
    latest, and the delta is ONE signed aggregate over them — new
    images at +1, old images at −1, so unchanged rows cancel exactly:
    no exceptAll, no join, no snapshot access at any version (the
    first cut re-scanned the whole cursor-version snapshot per
    trigger for retraction images — O(snapshot) per batch, exactly
    the cost class this consumer exists to avoid). The view merge
    then rewrites only delta-touched view buckets. Retention
    contract: the cursor version's manifest and changed directories
    must stay vacuum-retained on the source (keep_versions > consumer
    lag), the public formats' CDF retention rule."""
    from ..sources import manifest as mf

    cursor = int(mf.read_aux(spark, view_path, "cursor").first()["version"])
    latest = mf.current_version(source_path)
    if latest <= cursor:
        return 0
    old, new = mf.read_changed_sides(spark, source_path, cursor, latest)

    def signed(df: DataFrame, w: int) -> DataFrame:
        return df.select(
            *group_cols,
            F.lit(w).cast("long").alias("_w"),
            *[(F.col(c).cast(DEC) * w).alias(name) for name, c in measures.items()],
        )

    delta = (
        signed(new, 1)
        .unionByName(signed(old, -1))
        .groupBy(*group_cols)
        .agg(
            F.sum("_w").alias("_n"),
            *[F.sum(name).alias(name) for name in measures],
        )
    )
    nonzero = F.col("_n") != 0
    for m in measures:
        nonzero = nonzero | (F.col(m) != 0)
    # eagerly materialize the GROUP-SIZED delta: merge_into evaluates
    # its changelog in several actions (touched-bucket collect, write),
    # and without this the whole changed-bucket feed diff would re-run
    # per action (the lazy-reuse gotcha)
    delta = delta.where(nonzero).localCheckpoint()
    old_view = mf.read_table(spark, view_path)
    # delta-sized view changelog: per touched group, new = old + delta;
    # groups whose maintained count reaches zero become 'D' rows —
    # EXACTLY merge_deltas' drop rule, expressed as keyed CDC
    upd = (
        delta.alias("d")
        .join(old_view.alias("v"), group_cols, "left")
        .select(
            *group_cols,
            (F.coalesce(F.col("v._n"), F.lit(0)) + F.col("d._n")).alias("_n"),
            *[
                # cast back to the view's stored decimal type: the add
                # widens precision, and an ever-widening schema would
                # pointlessly evolve the view table on every batch
                (F.coalesce(F.col(f"v.{m}"), F.lit(0).cast(DEC)) + F.col(f"d.{m}"))
                .cast(old_view.schema[m].dataType)
                .alias(m)
                for m in measures
            ],
        )
    )
    changelog = upd.withColumn(
        op_col, F.when(F.col("_n") > 0, F.lit("U")).otherwise(F.lit("D"))
    )
    new_cursor = spark.createDataFrame([(latest,)], "version int")
    try:
        mf.merge_into(
            spark, view_path, changelog, op_col=op_col, seq_col=None,
            aux={"cursor": new_cursor},
        )
    finally:
        # a long-lived consumer must not accumulate one delta's pinned
        # blocks per trigger
        free(delta)
    return latest - cursor


def finalize(view: DataFrame, group_cols: list[str]) -> DataFrame:
    """Publish the view: counts as BIGINT ``n_rows``, measure sums
    cast back to double (the decimal_sum output convention)."""
    measures = [c for c in view.columns if c not in (*group_cols, "_n")]
    return view.select(
        *group_cols,
        F.col("_n").alias("n_rows"),
        *[F.col(c).cast("double").alias(c) for c in measures],
    )
