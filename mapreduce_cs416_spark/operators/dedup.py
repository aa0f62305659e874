"""Deduplication operators over the `documents` table — the LLM-data-
pipeline surface (north star; not in the reference, which only has the
per-group set-dedup inside its indexer map, mrapps/indexer.go:21-25).

Four strategies, all shuffle-conscious:

- exact        : hash-groupBy on a content digest — one shuffle on the
                 digest, arbitrarily wide scale-out.
- ngram Jaccard: exact k-shingle Jaccard via an inverted-index
                 (shingle → doc) self-join. The join key is the
                 shingle, so common-shingle skew is the scale risk;
                 ``max_df`` drops shingles above a document-frequency
                 cap (stop-shingles carry ~no signal) — the standard
                 prefix-filtering mitigation.
- MinHash LSH  : signature → banding → bucket join; candidates then
                 *verified* with exact Jaccard so false positives drop
                 out; false negatives bounded by the (bands, rows)
                 S-curve. Hash-function-dependent → no SQL oracle;
                 tests assert recall vs the exact operator.
- SimHash      : 64-bit fingerprint, near-dups = Hamming ≤ d via
                 16-bit-chunk pigeonhole banding.

Everything is built-in expressions (xxhash64 / explode / groupBy) —
no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import WORD_SPLIT_RE, bind_once, word_shingles, words_col


def _spread(docs: DataFrame) -> DataFrame:
    """Ensure the corpus scan actually distributes across cores.

    Shingling/hashing is CPU-bound per document, and a small corpus in
    one parquet row group runs the whole map stage on a single core:
    Spark reports maxPartitionBytes-sized *byte-range* splits, but
    parquet can't split below row-group granularity, so every row
    lands in the one split that contains the row group. The split
    count is therefore a lie for small files — decide from input bytes
    instead. No-op at scale (many row groups → real splits), where a
    repartition would be a full shuffle of the raw text.
    """
    total = _input_bytes(docs)
    if total is None:  # not file-backed, or remote: trust its planning
        return docs
    target = docs.sparkSession.sparkContext.defaultParallelism
    if total < (4 << 20) * target:
        return docs.repartition(target)
    return docs


def _input_bytes(docs: DataFrame) -> int | None:
    """Total bytes of the plan's input files, None when unknowable
    (non-file plans, remote stores) — the one probe behind _spread and
    _shuffle_width. A plan with no input files (in-memory, derived or
    custom-source frames) or whose files sum to 0 bytes is unknowable
    too: its size is not in its files."""
    try:
        files = docs.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file://").removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total or None


def _shuffle_width(docs: DataFrame, per_task_bytes: int = 64 << 10) -> int | None:
    """Scale-adaptive reduce width for the tiny keyed shuffles of the
    text/postings operators (guide §2.1/§2.2): derived from the
    corpus's INPUT BYTES and capped at the session's
    ``spark.sql.shuffle.partitions``, so at real scale the cap wins
    and the plan is exactly what the cluster knob asks for — this is
    a size-derived floor for small inputs, not core-count tuning.
    Rationale: with sub-MB corpora every shuffle stage still fans out
    ``shuffle.partitions`` tasks whose fixed cost (launch + 32×32
    tiny fetches) dwarfs the work — measured 0.4–0.9 s per
    postings-family query at sf0.1 on local[32], and the r14 driver's
    8-core pass was FASTER than its 32-core pass on exactly these
    queries. None = width unknowable (leave Spark's default)."""
    total = _input_bytes(docs)
    if total is None:
        return None
    spark = docs.sparkSession
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" or unset: no override
        return None
    return max(1, min(cap, total // per_task_bytes))


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Group documents by content digest: copies per digest + kept id
    (min doc_id = the reference's deterministic last-writer analog)."""
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingles array<string>, n_sh) with distinct k-word
    shingles. The tokenize→shingle pipeline is bound once per row
    (functions/text.bind_once) so downstream multi-reference plans
    don't re-run the regex split per reference."""
    return _spread(docs).select(
        "doc_id",
        bind_once(
            word_shingles(words_col("text"), k),
            lambda sh: F.struct(sh.alias("shingles"), F.size(sh).alias("n_sh")),
        ).alias("s"),
    ).select("doc_id", F.col("s.shingles").alias("shingles"), F.col("s.n_sh").alias("n_sh"))


def shingle_postings(
    docs: DataFrame,
    k: int = 3,
    doc_col: str = "doc_id",
    n_col: str = "n_sh",
    materialize: bool = True,
) -> DataFrame:
    """The exploded inverted index every shingle-join operator builds:
    (doc_col, n_col, sh) with one row per distinct k-shingle occurrence
    and ``sh`` = xxhash64(shingle) — 8-byte longs on every downstream
    shuffle instead of ~25-byte shingle text (exact up to 64-bit
    collisions; see ngram_jaccard_pairs). Shared by the self-join
    (ngram_jaccard_pairs), the screening pass
    (duplicated_ngram_fraction), and the ingest gate
    (incremental_ingest) so the postings contract cannot drift between
    them (code-review r6 finding #6).

    ``materialize`` eagerly localCheckpoints the postings: every
    multi-branch consumer (df-cap groupBy + join sides) would
    otherwise race a lazy cache and re-run the tokenize+shingle scan
    per branch (the SKILL.md gotcha); pass False only when exactly one
    downstream branch reads the result. Lifecycle note: the
    checkpointed blocks stay pinned until freed — the returned frame's
    plan reads them lazily, so the operator cannot unpersist on your
    behalf; a long-lived service frees them with ``checkpoints.free``
    on the postings (or on any frame built from them) once consumed."""
    ex = (
        shingle_sets(docs, k)
        .select(
            F.col("doc_id").alias(doc_col),
            F.col("n_sh").alias(n_col),
            F.explode("shingles").alias("shingle"),
        )
        .select(doc_col, n_col, F.xxhash64("shingle").alias("sh"))
    )
    if not materialize:
        return ex
    # r15 (guide §2.4): materialize the postings ALREADY
    # hash-partitioned on the join/aggregate key at a size-derived
    # width (_shuffle_width). Every downstream sh-keyed op — the
    # df-cap groupBy, both self-join sides, the ingest probe join —
    # then reuses the checkpoint's partitioning instead of paying its
    # own exchange, and the width tracks the corpus size instead of
    # fanning tiny data across shuffle.partitions tasks. Values are
    # untouched; only partitioning moves.
    w = _shuffle_width(docs)
    if w is not None:
        ex = ex.repartition(w, F.col("sh"))
    return ex.localCheckpoint()


def cap_postings(ex: DataFrame, max_df: int) -> DataFrame:
    """Drop postings of shingles whose document frequency in ``ex``
    exceeds ``max_df`` — the stop-shingle skew bound, applied as a
    broadcast ANTI join against the (small by construction) hot set
    rather than broadcasting the huge keep-set."""
    hot = ex.groupBy("sh").agg(F.count("*").alias("df")).where(F.col("df") > max_df)
    return ex.join(F.broadcast(hot.select("sh")), "sh", "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.2, max_df: int | None = None
) -> DataFrame:
    """Exact k-gram Jaccard near-dup pairs via inverted-index join.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold. ``max_df`` (document-frequency cap per
    shingle) bounds join skew at scale; None = exact semantics.

    The inverted index is keyed on xxhash64(shingle), not the string:
    the two shuffles (df count + self-join) carry 8-byte longs instead
    of ~25-byte shingle text. Exact up to 64-bit collisions
    (~n²/2⁶⁵ expected spurious common-shingle counts — negligible and
    deterministic). The df cap is applied as a broadcast *anti* join
    against the stop-shingle set, which is small by construction
    (shingles with df > max_df), rather than broadcasting the huge
    keep-set.
    """
    # eagerly materialized postings (shingle_postings): the df-cap
    # groupBy and BOTH sides of the self-join read them, and
    # concurrent references race past a lazy cache (cf.
    # minhash_lsh_pairs) — benched 2.0s -> 1.6s at sf0.1
    ex = shingle_postings(docs, k)
    if max_df is not None:
        ex = cap_postings(ex, max_df)
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def containment_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by Broder's containment measure
    ("On the resemblance and containment of documents", SEQUENCES'97):
    C(A⊆B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|. Returns
    (doc_contained, doc_container, containment) with containment >=
    threshold — one DIRECTED row per satisfied direction (mutual
    near-dups emit both). This is the quote/partial-copy detector
    symmetric Jaccard structurally misses: a short document fully
    quoted inside a long one has Jaccard ≈ |A|/|B| (tiny) but
    containment 1.0 — exactly the subset-document case a training
    pipeline must catch AFTER exact and resemblance dedup have run.

    Same inverted-index discipline and the same two 8-byte-keyed
    shuffles as ``ngram_jaccard_pairs`` (ONE shingle scan, df-capped
    postings, never an all-pairs join); only the finisher differs:
    the (pair, common) aggregate fans into the two directed
    normalizations instead of one symmetric one."""
    ex = shingle_postings(docs, k)
    if max_df is not None:
        ex = cap_postings(ex, max_df)
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    # the (pair, common) aggregate feeds BOTH directed finishers of
    # one action — eager materialize so the index self-join runs once
    # (the multi-branch discipline of shingle_postings)
    common = common.localCheckpoint()
    ab = common.where(F.col("common") / F.col("na") >= threshold).select(
        F.col("doc_a").alias("doc_contained"),
        F.col("doc_b").alias("doc_container"),
        F.round(F.col("common") / F.col("na"), 6).alias("containment"),
    )
    ba = common.where(F.col("common") / F.col("nb") >= threshold).select(
        F.col("doc_b").alias("doc_contained"),
        F.col("doc_a").alias("doc_container"),
        F.round(F.col("common") / F.col("nb"), 6).alias("containment"),
    )
    return ab.unionAll(ba)


def minhash_signatures(
    docs: DataFrame, k: int = 3, n_hashes: int = 64, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures over k-shingles.

    Zero-shuffle: each signature element is a row-local
    array_min(transform(shingles, s -> xxhash64(s, seed_i))) — the
    whole signature computes inside the scan stage (narrow map, no
    explode, no exchange), which beats the explode + n_hashes
    min-aggregates formulation by the full shuffle of |doc|×|shingles|
    rows. Docs with no shingles are excluded up front — they have no
    Jaccard similarity to anything by definition, and keeping them
    would make every shingle-less doc share one signature and collide
    in every LSH band.

    ``shingles`` lets callers feed an already-built ``shingle_sets``
    frame (``minhash_lsh_pairs`` materializes ONE shingle scan for
    both its signature and verify branches — the tokenize+shingle
    pass is the CPU-heavy part and used to run twice, VERDICT r5
    item 2).
    """
    # ONE expression tree for all n_hashes elements (r14, guide §7.3):
    # the seed becomes the transform's lambda variable instead of a
    # per-element literal, so Catalyst analyzes one tree instead of
    # n_hashes — xxhash64(s, i) hashes the same (string, int) values
    # either way, so every signature (and the spark_hash oracle
    # replay) is bit-identical. The old form was a measured ~1.7 s
    # driver-side planning gap per minhash query at sf0.1.
    sig = F.expr(
        f"transform(sequence(0, {n_hashes - 1}), "
        "i -> array_min(transform(shingles, s -> xxhash64(s, i))))"
    )
    sh = shingles if shingles is not None else shingle_sets(docs, k)
    return sh.where(F.col("n_sh") > 0).select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.

    banding: `bands` bands of n_hashes/bands rows; bucket key =
    hash(band_idx, sig slice). Candidate pairs (same bucket in any
    band) are then verified against the exact shingle sets, so output
    precision is exact; recall follows the LSH S-curve
    1-(1-s^r)^b. Returns (doc_a, doc_b, jaccard).

    The shingle scan (tokenize + shingle: the CPU-dominant pass) runs
    ONCE — eagerly materialized via localCheckpoint — feeding both the
    signature branch and the two verify-join probes. It previously
    recomputed per branch (VERDICT r5 item 2), and a lazy persist()
    was not enough either: the three references sit in one action
    whose concurrent tasks race past the unfilled cache (cf.
    graph.triangle_counts — the same fix benched 3.1s -> 2.1s at
    sf0.1). The checkpointed blocks are |docs| shingle arrays ≈ the
    corpus itself; the bench/driver frees blocks between queries, and
    at 100 TB the storage level spills to disk rather than evicting
    the working set. localCheckpoint is not fault-tolerant (an
    executor loss kills the truncated lineage); the durable production
    forms are reliable ``checkpoint()`` or AQE exchange reuse.
    """
    rows = n_hashes // bands
    sh = shingle_sets(docs, k).localCheckpoint()
    sigs = minhash_signatures(docs, k, n_hashes, shingles=sh)
    # one tree for all bands — see minhash_signatures' r14 note; the
    # band index feeding hash() is the same int value as the old
    # per-band literal, so buckets are bit-identical
    band_cols = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"i -> struct(i AS band, hash(i, slice(sig, i * {rows} + 1, {rows})) AS bucket))"
    )
    buckets = sigs.select("doc_id", F.explode(band_cols).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shv = sh.select("doc_id", "shingles")
    verified = (
        cand.join(shv.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sa"), "doc_a")
        .join(shv.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb"))
            ).alias("jaccard_raw"),
        )
    )
    return verified.where(F.col("jaccard_raw") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


def incremental_ingest(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Dedup an incoming shard AGAINST the existing corpus — the
    admission decision an incremental ingest pipeline makes per new
    document, distinct from the batch self-join dedups above (those
    compact a corpus; this gates what may enter it). Returns one row
    per new document: (doc_id, status, best_match, jaccard) where
    status ∈ {'exact', 'near', 'novel'}:

    - 'exact': byte-identical text exists in the corpus (md5 join);
      best_match = lowest matching corpus doc_id, jaccard = 1.0.
    - 'near' : exact k-gram Jaccard ≥ ``threshold`` against some
      corpus doc (inverted-index join, same machinery as
      ``ngram_jaccard_pairs`` but new⋈corpus instead of self-join);
      best_match = argmax-Jaccard corpus doc (ties → lowest doc_id).
    - 'novel': neither — admit.

    Scale shape: the corpus never joins itself — the inverted-index
    join is |new shard| × corpus postings, and ``max_df`` caps the
    corpus-side document frequency per shingle exactly as in the
    self-join variant, so boilerplate shingles cannot blow up the
    candidate set. The argmax is a struct-max aggregate
    (max(round(j,6), -corpus_id)), one shuffle on new-doc id, no
    window; deterministic and engine-portable, so the registered
    query carries an exact DuckDB oracle
    (plans/northstar.DEDUP_INCREMENTAL_SQL).

    This face re-derives the corpus digest table + postings from the
    raw corpus; at 100 TB a per-shard rescan of the corpus is the
    wrong cost model — ``write_ingest_index`` materializes both
    artifacts once and ``incremental_ingest_indexed`` serves every
    subsequent shard from the index alone.
    """
    ch = corpus_docs.select(F.md5("text").alias("h"), F.col("doc_id").alias("cid"))
    # corpus postings feed the df-cap groupBy AND the join probe →
    # eagerly materialized inside shingle_postings (code-review r6
    # finding #3: the lazy form re-ran the corpus shingle scan per
    # branch)
    ex_c = shingle_postings(
        corpus_docs, k, doc_col="cid", n_col="c_n_sh", materialize=max_df is not None
    )
    return _ingest_decide(new_docs, ch, ex_c, k, threshold, max_df)


_DIGESTS_DDL = "h string, cid long"
_POSTINGS_DDL = "cid long, c_n_sh int, sh long"
_DECISIONS_DDL = "doc_id long, status string, best_match long, jaccard double, batch_id long"


def _is_tx_index(path: str) -> bool:
    import os

    return os.path.isdir(os.path.join(path, "_manifests"))


def _index_digests(docs: DataFrame) -> DataFrame:
    return docs.select(F.md5("text").alias("h"), F.col("doc_id").alias("cid"))


def write_ingest_index_tx(corpus_docs: DataFrame, path: str, k: int = 3) -> None:
    """``write_ingest_index`` on the transactional manifest store
    (sources/manifest.create_aux_logs): digests, postings, and an
    empty decisions log are committed as three aux LOG tables under
    one manifest, so every subsequent gate batch can grow ALL of them
    with ONE write job + ONE put-if-absent commit
    (``append_aux_logs`` — VERDICT r10 item 6: the legacy layout's
    three separate parquet appends left a torn-index crash window and
    ~1s of per-batch fixed action cost). ``incremental_ingest_indexed``
    and ``append_ingest_index`` auto-detect the layout."""
    from ..sources import manifest as mf

    spark = corpus_docs.sparkSession
    mf.create_aux_logs(
        spark,
        path,
        {
            "digests": _index_digests(corpus_docs),
            "postings": shingle_postings(
                corpus_docs, k, doc_col="cid", n_col="c_n_sh", materialize=False
            ),
            "decisions": spark.createDataFrame([], _DECISIONS_DDL),
        },
    )


def write_ingest_index(corpus_docs: DataFrame, path: str, k: int = 3) -> None:
    """Materialize the corpus-side dedup index ``incremental_ingest``
    otherwise re-derives per shard: the exact-dup digest table
    (md5 → min doc id would lose ties info, so full (h, cid)) and the
    shingle postings, both parquet. At 100 TB this is the artifact an
    ingest service maintains — shards are admitted against the index,
    and accepted shards' digests/postings are accreted with
    ``append_ingest_index`` (a plain parquet append of the same two
    frames, in the index's own column names), so the corpus raw text
    is never rescanned."""
    ch = corpus_docs.select(F.md5("text").alias("h"), F.col("doc_id").alias("cid"))
    ch.write.mode("overwrite").parquet(f"{path}/digests")
    shingle_postings(
        corpus_docs, k, doc_col="cid", n_col="c_n_sh", materialize=False
    ).write.mode("overwrite").parquet(f"{path}/postings")


def append_ingest_index(admitted_docs: DataFrame, path: str, k: int = 3) -> None:
    """Accrete ADMITTED documents into a ``write_ingest_index`` store:
    append their digest rows and shingle postings to the two parquet
    tables, in the index's own column names (h, cid) / (cid, c_n_sh,
    sh) — a caller appending ``shingle_postings`` defaults (doc_id,
    n_sh) would write a schema-mismatched partition that
    ``incremental_ingest_indexed`` misreads. ``k`` must match the
    index's build parameter.

    This closes the incremental loop: gate shard → filter the rows
    the admission policy accepts → append exactly those documents →
    gate the next shard against the grown index. Appending is two
    parquet writes sized by the SHARD, never a corpus rescan or
    rewrite; the result is identical to rebuilding the index over
    corpus ∪ admitted (asserted in tests/test_dedup.py's accretion
    test), because both tables are plain row unions with no
    cross-document state."""
    if _is_tx_index(path):
        from ..sources import manifest as mf

        mf.append_aux_logs(
            admitted_docs.sparkSession,
            path,
            {
                "digests": _index_digests(admitted_docs),
                "postings": shingle_postings(
                    admitted_docs, k, doc_col="cid", n_col="c_n_sh", materialize=False
                ),
            },
        )
        return
    # coalesce(1): an append sized by ONE shard otherwise lands as
    # shuffle-partition-many near-empty files, and after N batches the
    # per-batch index scan pays N×32 file opens + listings — measured
    # as a growing share of the streaming gate's batch time. One file
    # per shard per table keeps the index's file count equal to the
    # shard count (compact_table remains the maintenance op beyond
    # that).
    ch = admitted_docs.select(F.md5("text").alias("h"), F.col("doc_id").alias("cid"))
    ch.coalesce(1).write.mode("append").parquet(f"{path}/digests")
    shingle_postings(
        admitted_docs, k, doc_col="cid", n_col="c_n_sh", materialize=False
    ).coalesce(1).write.mode("append").parquet(f"{path}/postings")


def incremental_ingest_indexed(
    new_docs: DataFrame,
    index_path: str,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """``incremental_ingest`` served from a ``write_ingest_index``
    store instead of the raw corpus: per shard, only the (small) new
    side is shingled; the corpus contributes pre-built parquet
    digests + postings with pushdown-able scans. Result-equal to the
    direct face by construction (asserted in tests/test_dedup.py).
    ``k`` must match the index's build parameter."""
    spark = new_docs.sparkSession
    # explicit schemas: the index is read EVERY micro-batch in the
    # streaming face, and schema inference pays a driver-side footer
    # read per table per batch — a pure fixed cost on a hot path
    if _is_tx_index(index_path):
        from ..sources import manifest as mf

        ch = mf.read_aux(spark, index_path, "digests", schema=_DIGESTS_DDL)
        ex_c = mf.read_aux(spark, index_path, "postings", schema=_POSTINGS_DDL)
    else:
        ch = spark.read.schema(_DIGESTS_DDL).parquet(f"{index_path}/digests")
        ex_c = spark.read.schema(_POSTINGS_DDL).parquet(f"{index_path}/postings")
    return _ingest_decide(new_docs, ch, ex_c, k, threshold, max_df)


def _ingest_decide(
    new_docs: DataFrame,
    ch: DataFrame,
    ex_c: DataFrame,
    k: int,
    threshold: float,
    max_df: int | None,
) -> DataFrame:
    """Shared decision core of the two ingest faces: ``ch`` = corpus
    (h, cid) digests, ``ex_c`` = corpus (cid, c_n_sh, sh) postings."""
    exact = (
        new_docs.select("doc_id", F.md5("text").alias("h"))
        .join(ch, "h")
        .groupBy("doc_id")
        .agg(F.min("cid").alias("exact_match"))
    )
    # new-shard postings feed exactly one branch → no materialization
    ex_n = shingle_postings(new_docs, k, materialize=False)
    if max_df is not None:
        ex_c = cap_postings(ex_c, max_df)
    common = (
        ex_n.join(ex_c, "sh")
        .groupBy("doc_id", "cid", "n_sh", "c_n_sh")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("n_sh") + F.col("c_n_sh") - F.col("common"))
    pairs = common.select(
        "doc_id", "cid", F.round(jac, 6).alias("j")
    ).where(F.round(jac, 6) >= threshold)
    best_near = (
        pairs.groupBy("doc_id")
        .agg(F.max(F.struct(F.col("j"), (-F.col("cid")).alias("nc"))).alias("m"))
        .select("doc_id", (-F.col("m.nc")).alias("near_match"), F.col("m.j").alias("near_j"))
    )
    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best_near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("best_match"),
            F.when(F.col("exact_match").isNotNull(), F.lit(1.0))
            .otherwise(F.col("near_j"))
            .alias("jaccard"),
        )
    )


def duplicated_ngram_fraction(docs: DataFrame, k: int = 4) -> DataFrame:
    """Corpus-internal duplicated-text signal (the RefinedWeb /
    Gopher-style "duplicated n-gram fraction" quality filter, applied
    ACROSS documents rather than within one — the within-document
    variant is textstats.repetition_stats): for every document, the
    fraction of its distinct k-word shingles that also occur in at
    least one OTHER document. Returns (doc_id, n_shingles,
    n_dup_shingles, dup_frac); documents with fewer than k words have
    no shingles and produce no row.

    Scale shape: one shingle scan → explode keyed on xxhash64(shingle)
    (8-byte longs on the wire, cf. ngram_jaccard_pairs) → one
    groupBy(shingle) for corpus-wide document frequency → join back on
    the same key (the exchange is reused: both sides are partitioned
    by sh from the df groupBy) → one groupBy(doc_id). No pair joins at
    all — this is the O(corpus) screening pass a pipeline runs BEFORE
    deciding which documents deserve the pairwise dedup treatment.

    A shingle repeated within one doc but nowhere else does NOT count
    (df is per-document distinct occurrences, so df >= 2 means two
    different documents share it).
    """
    # materialized postings: the df groupBy and the join-back both
    # read them (shingle_postings; explode already drops shingle-less
    # docs, so the old n_sh > 0 pre-filter was redundant)
    ex = shingle_postings(docs, k)
    df = ex.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        ex.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.max("n_sh").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("int").alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 6).alias("dup_frac"),
        )
    )


def duplicated_spans(docs: DataFrame, k: int = 4, min_df: int = 2) -> DataFrame:
    """Exact-substring duplicate SPANS — the positional deliverable of
    Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better" (the ExactSubstr pass): for every document, the
    maximal runs of word positions covered by k-word shingles that
    also occur in at least ``min_df - 1`` OTHER documents. Where
    ``duplicated_ngram_fraction`` scores documents, this returns the
    surgical cut list: (doc_id, span_start, span_end, span_words)
    with 1-based inclusive word positions, one row per merged span —
    ready for a removal consumer to slice. Overlapping AND adjacent
    covered intervals merge, so spans are exactly the connected runs
    of covered words. Documents with no duplicated shingle produce no
    row; a shingle repeated only WITHIN one doc does not count
    (df counts per-document distinct occurrences, matching
    duplicated_ngram_fraction's cross-document semantics).

    Scale shape: one tokenize scan keyed by per-doc windows (k-1
    lead()s over ONE window spec — no self-join to build positional
    shingles), corpus-wide document frequency as one groupBy on
    xxhash64(shingle) longs, join back on the same key (exchange
    reuse), then the classic gaps-and-islands interval union inside
    each doc partition: running max(end) over preceding rows → island
    ids → one groupBy(doc_id, island). No pair joins anywhere —
    O(corpus), the same screening discipline as
    duplicated_ngram_fraction, and windows partition BY DOCUMENT so
    no single partition ever exceeds one document's length at 100 TB.
    """
    from pyspark.sql.window import Window

    tok = _spread(docs).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", WORD_SPLIT_RE), lambda w: w != F.lit(""))
        ).alias("p0", "w"),
    )
    seq = Window.partitionBy("doc_id").orderBy("p0")
    shingle = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(seq) for i in range(1, k)]
    )
    occ = (
        tok.select(
            "doc_id",
            (F.col("p0") + 1).alias("start"),
            shingle.alias("g_text"),
            F.lead("w", k - 1).over(seq).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "start", F.xxhash64("g_text").alias("g"))
    )
    # postings feed two branches (df groupBy + join-back) of one
    # action — eager materialize, per the shingle_postings discipline
    occ = occ.localCheckpoint()
    dup_keys = (
        occ.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
        .select("g")
    )
    iv = occ.join(dup_keys, "g").select(
        "doc_id", "start", (F.col("start") + k - 1).alias("end")
    )
    prev_max = F.max("end").over(
        Window.partitionBy("doc_id").orderBy("start").rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "doc_id",
        "start",
        "end",
        F.when(prev_max.isNull() | (F.col("start") > prev_max + 1), 1).otherwise(0).alias("new_island"),
    )
    island = F.sum("new_island").over(
        Window.partitionBy("doc_id").orderBy("start").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.select("doc_id", "start", "end", island.alias("island"))
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("span_start"), F.max("end").alias("span_end"))
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).cast("int").alias("span_words"),
        )
    )


def remove_duplicated_spans(docs: DataFrame, k: int = 4, min_df: int = 2) -> DataFrame:
    """The REWRITE stage of the ExactSubstr pipeline: apply
    ``duplicated_spans``'s cut list and emit the deduplicated corpus —
    (doc_id, n_words, n_removed, cleaned_text) with every covered word
    sliced out and the survivors re-joined by single spaces (word
    splitting is lossy by design: this is the tokenizer-facing text,
    the same normalization every shingle operator applies). Every
    document gets a row; span-free documents pass through with
    n_removed = 0 and wordless documents with cleaned_text = ''.

    Scale shape: the spans are document-bounded (a span never exceeds
    its document's word count), so explode(sequence(...)) fans out to
    at most one row per covered WORD — O(corpus) again; the kept words
    reassemble with one per-doc sort inside a groupBy aggregate
    (array_sort over (pos, word) structs — no window, no second
    shuffle beyond the groupBy itself) and the final left join from
    `documents` restores span-free and wordless docs."""
    tok = _spread(docs).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", WORD_SPLIT_RE), lambda w: w != F.lit(""))
        ).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    covered = (
        duplicated_spans(docs, k, min_df)
        .select("doc_id", F.explode(F.sequence("span_start", "span_end")).alias("p"))
    )
    kept = tok.join(covered, ["doc_id", "p"], "left_anti")
    totals = tok.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("int").alias("n_words"),
            (F.coalesce("n_words", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def cdc_chunks(
    docs: DataFrame, m: int = 8, mod: int = 1_000_000_007, base: int = 31
) -> DataFrame:
    """Content-defined chunking — the STORAGE leg of the dedup story
    (LBFS, Muthitacharoen et al. SOSP'01; the rolling-boundary idea
    behind FastCDC): each document's word stream is cut AFTER every
    word whose polynomial hash (sum of code points, Horner base 31,
    mod 1e9+7) is ≡ 0 mod ``m`` (expected chunk length m words), and
    each chunk gets an md5 content signature. Because boundaries
    depend only on LOCAL content, an insertion or deletion re-chunks
    only its neighbourhood and every downstream chunk re-synchronizes
    — the property that lets a chunk store dedup shared passages
    across documents and versions where fixed-size chunking would
    shift every subsequent block (pinned by
    tests/test_dedup.py::test_cdc_chunks_resync_after_insertion).

    Returns (doc_id, chunk_idx, chunk_start, n_words, chunk_md5,
    n_docs_sharing) — one row per chunk, with the cross-document
    sharing count that a dedup store would use to keep one copy.

    Scale shape: one tokenize scan; the boundary rule and the word
    hash are pure JVM expressions (F.aggregate over the word's chars
    — no Python, no shuffle); chunk ids are a per-document prefix sum
    (windows partition BY DOCUMENT); chunk reassembly is one
    groupBy(doc, chunk) with an ordered array_sort aggregate; the
    sharing count is one groupBy on the 16-byte signature + a join
    back on the same key. O(corpus) end to end, no pair joins. The
    DuckDB twin replays the identical hash with list_reduce
    (plans/northstar.DEDUP_CDC_CHUNKS_SQL)."""
    from pyspark.sql.window import Window

    tok = _spread(docs).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", WORD_SPLIT_RE), lambda w: w != F.lit(""))
        ).alias("p0", "w"),
    )
    wh = F.aggregate(
        F.split("w", ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )
    tokh = tok.select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "w",
        (wh % m == 0).cast("int").alias("b"),
    )
    chunk_idx = F.coalesce(
        F.sum("b").over(
            Window.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    chunks = (
        tokh.select("doc_id", "p", "w", chunk_idx.alias("c"))
        .groupBy("doc_id", "c")
        .agg(
            F.min("p").alias("chunk_start"),
            F.count("*").alias("n_words"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("p", "w"))),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )
    share = chunks.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("n_docs_sharing")
    )
    return chunks.join(share, "chunk_md5").select(
        "doc_id",
        F.col("c").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.col("n_words").cast("int").alias("n_words"),
        "chunk_md5",
        F.col("n_docs_sharing").cast("int").alias("n_docs_sharing"),
    )


# Portable 64-bit word hash for SimHash (r8): two Horner polynomial
# hashes over the word's code points (bases 31/131, mod 1e9+7 — the
# cdc_chunks discipline) mixed by one multiply-shift step
# z = (h1*K1 + h2*K2) mod 2^64 with odd 64-bit constants (the classic
# universal multiply-shift family, Dietzfelbinger et al. 1997). The
# multiply runs in DECIMAL(38,0) on the Spark side (30-bit × 64-bit
# products are 29 digits, well inside 38) and HUGEINT in DuckDB, then
# z splits into two 32-bit halves that fit BIGINT for bit extraction
# — verified bit-identical across engines. xxhash64 gave the same
# operator engine-locked buckets and an unverifiable (rows-only)
# driver row.
SIMHASH_MOD = 1_000_000_007
SIMHASH_K1 = 11400714819323198485  # 0x9E3779B97F4A7C15, odd
SIMHASH_K2 = 14029467366897019727  # 0xC2B2AE3D27D4EB4F, odd


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint): 64-bit SimHash over word tokens.

    Per-bit contributions aggregated as 64 conditional sums (map-side
    partial, one shuffle, one output row per doc) — no 64× row
    explosion. The per-word hash is the portable multiply-shift mix
    above, so the DuckDB twin (plans/northstar.DEDUP_SIMHASH_SQL)
    replays every bucket exactly.
    """
    h1 = F.aggregate(
        F.split("w", ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % SIMHASH_MOD,
    )
    h2 = F.aggregate(
        F.split("w", ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 131 + F.ascii(ch)) % SIMHASH_MOD,
    )
    z = F.expr(
        f"(CAST(h1 AS DECIMAL(38,0)) * {SIMHASH_K1} + CAST(h2 AS DECIMAL(38,0)) * {SIMHASH_K2})"
        " % 18446744073709551616"
    )
    tok = (
        _spread(docs)
        .select(
            "doc_id",
            F.explode(F.filter(F.split("text", WORD_SPLIT_RE), lambda w: w != F.lit(""))).alias("w"),
        )
        .select("doc_id", h1.alias("h1"), h2.alias("h2"))
        .select("doc_id", z.alias("z"))
        .select(
            "doc_id",
            F.expr("CAST(z div 4294967296 AS LONG)").alias("zh"),
            F.expr("CAST(z % 4294967296 AS LONG)").alias("zl"),
        )
    )
    sums = [
        F.sum(
            F.when(F.expr(f"({'zl' if j < 32 else 'zh'} >> {j % 32}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    bit_terms = " + ".join(f"(CASE WHEN s{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)" for j in range(64))
    return agg.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding on four 16-bit chunks: any pair within Hamming
    3 must agree on >= 1 chunk, so candidates = equal-chunk joins
    (4 shuffles on 16-bit keys), then exact bit_count(xor) filter.
    """
    sh = simhash64(docs)
    chunks = F.array(
        *[
            F.struct(F.lit(c).alias("chunk"), F.expr(f"(simhash >> {16 * c}) & 65535").alias("key"))
            for c in range(4)
        ]
    )
    keyed = sh.select("doc_id", "simhash", F.explode(chunks).alias("ck")).select(
        "doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def edit_distance_pairs(
    df: DataFrame, col: str, max_dist: int = 3, band: int | None = None
) -> DataFrame:
    """Fuzzy string self-join: every pair of DISTINCT values of
    ``col`` within Levenshtein distance ``max_dist``. Returns
    (name_a, name_b, dist) with name_a < name_b.

    Scale shape: (1) the join runs on the *vocabulary* (distinct
    values), not the rows — at 100 TB the distinct names of a
    dimension column are orders of magnitude smaller than the fact
    table; (2) LOSSLESS length-band blocking replaces the all-pairs
    cross join: levenshtein(a,b) >= |len(a)-len(b)|, so each value
    registers at bucket floor(len/band) and probes every bucket
    covering [len-max_dist, len+max_dist] (floor is monotone, so a
    qualifying partner's registration bucket is always inside the
    probe range — no candidate is missed); (3) the distance itself
    runs with Spark's thresholded levenshtein, which early-exits the
    DP once the band exceeds max_dist (O(max_dist * len) per pair,
    not O(len^2)). A q-gram prefix filter could further cut
    candidates for long strings (an edit destroys at most q q-grams),
    but is not lossless below (q+1)*max_dist + q - 1 chars, so for
    short dimension names length banding alone is the safe choice.
    """
    band = band or (max_dist + 1)
    names = df.select(F.col(col).alias("name")).distinct().withColumn("len", F.length("name"))
    reg = names.withColumn("bucket", F.floor(F.col("len") / band))
    probe = names.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("len") - max_dist) / band),
                F.floor((F.col("len") + max_dist) / band),
            )
        ),
    )
    cand = (
        reg.alias("a")
        .join(probe.alias("b"), "bucket")
        .where(
            (F.col("a.name") < F.col("b.name"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist)
        )
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()  # a pair can meet in more than one probed bucket
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b", max_dist))
        .where(F.col("dist") >= 0)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )
