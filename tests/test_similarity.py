"""Property tests for similarity search: ANN recall vs the exact
brute-force twin on clustered vectors (where bucketing actually has
structure to find), plus the multi-probe recall claim.
"""

from __future__ import annotations

import math

import pytest

from mapreduce_cs416_spark.operators import similarity

DIM = 16


def _unit(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec]


def _lcg_vec(seed: int, dim: int = DIM) -> list[float]:
    state = seed
    out = []
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
        out.append((state >> 11) / float(2**53) * 2.0 - 1.0)
    return out


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """5 tight clusters of 20 vectors each: centroid + small jitter.
    Within-cluster cosine is high; between-cluster is near 0."""
    rows = []
    vid = 0
    for c in range(5):
        centroid = _lcg_vec(1000 + c)
        for j in range(20):
            jitter = _lcg_vec(7000 + vid)
            vec = _unit([x + 0.15 * y for x, y in zip(centroid, jitter)])
            rows.append((vid, vec, c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    return out


def test_ann_recall_vs_brute_force(clustered_emb):
    k = 5
    exact = _topk_sets(similarity.brute_force_topk(clustered_emb, n_queries=10, k=k))
    ann = _topk_sets(
        similarity.lsh_ann_topk(clustered_emb, n_queries=10, k=k, n_planes=8, dim=DIM)
    )
    hits = sum(len(ann.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    recall = hits / total
    assert recall >= 0.6, f"ANN recall {recall:.2f} below bound"


def test_multi_probe_recall_dominates_single_bucket(clustered_emb):
    k = 5
    exact = _topk_sets(similarity.brute_force_topk(clustered_emb, n_queries=10, k=k))

    def recall(multi_probe: bool) -> float:
        ann = _topk_sets(
            similarity.lsh_ann_topk(
                clustered_emb, n_queries=10, k=k, n_planes=8, dim=DIM, multi_probe=multi_probe
            )
        )
        hits = sum(len(ann.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / sum(len(nbrs) for nbrs in exact.values())

    assert recall(True) >= recall(False)


def test_ivf_recall_vs_brute_force(clustered_emb):
    k = 5
    exact = _topk_sets(similarity.brute_force_topk(clustered_emb, n_queries=10, k=k))
    ivf = _topk_sets(
        similarity.ivf_topk(clustered_emb, n_queries=10, k=k, n_cells=8, n_probe=3, dim=DIM)
    )
    hits = sum(len(ivf.get(q, set()) & nbrs) for q, nbrs in exact.items())
    recall = hits / sum(len(nbrs) for nbrs in exact.values())
    assert recall >= 0.6, f"IVF recall {recall:.2f} below bound"


def test_lsh_near_dup_recall_and_precision(clustered_emb):
    threshold = 0.9
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_dup_pairs(clustered_emb, threshold).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_dup_lsh(
            clustered_emb, threshold, n_planes=8, n_tables=4, dim=DIM
        ).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    assert lsh <= exact  # precision exact: every emitted pair verified
    recall = len(lsh & exact) / len(exact)
    # OR-of-4-tables at cos>=0.9 (p = 1 - theta/pi ≈ 0.856 per plane):
    # 1-(1-0.856^8)^4 ≈ 0.83 expected; assert a loose floor
    assert recall >= 0.6, f"near-dup recall {recall:.2f}"


def test_lsh_near_dup_registered_banding_recall(clustered_emb):
    """The driver registers cosine_near_dup_lsh at the exact twin's
    0.42 threshold with 4 planes × 8 tables (plans/northstar) —
    expected per-pair recall 1-(1-p⁴)⁸ ≈ 0.76 at p = 1-θ/π ≈ 0.64.
    Assert a floor on clustered data so the de-vacuated driver row
    (VERDICT r4 item 4) stays non-trivially comparable."""
    threshold = 0.42
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_dup_pairs(clustered_emb, threshold).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_dup_lsh(
            clustered_emb, threshold, n_planes=4, n_tables=8, dim=DIM
        ).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"registered-banding recall {recall:.2f}"


def test_brute_force_topk_is_exact_cosine(spark):
    """3 hand-built vectors with known cosine ordering."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(emb, n_queries=1, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rn"])]
    assert order == [1, 2, 3]


def _mean_best_dot(emb, cents, dim) -> float:
    """Mean over vectors of the best centroid dot — the spherical
    k-means objective (higher = tighter cells)."""
    from pyspark.sql import functions as F

    from mapreduce_cs416_spark.operators.similarity import _dot_lit, _prepared

    unit = _prepared(emb).select(F.transform("v", lambda x: x / F.col("nrm")).alias("u"))
    dots = F.array(*[F.expr(_dot_lit("u", c)) for c in cents])
    return unit.select(F.avg(F.array_max(dots)).alias("m")).collect()[0]["m"]


def test_fit_centroids_improves_kmeans_objective(clustered_emb):
    """3 Lloyd's iterations on clustered data must tighten the cells
    vs the fixed-random init (and return unit-norm centroids)."""
    init = similarity.ivf_centroids(8, DIM)
    fitted = similarity.fit_centroids(clustered_emb, n_cells=8, dim=DIM, n_iter=3)
    for c in fitted:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9
    before = _mean_best_dot(clustered_emb, init, DIM)
    after = _mean_best_dot(clustered_emb, fitted, DIM)
    assert after > before, f"fit did not improve objective: {before:.4f} -> {after:.4f}"


def test_ivf_fitted_recall_at_least_matches_unfitted(clustered_emb):
    """Fitted cells must not lose recall vs the fixed-random cells on
    data with genuine cluster structure, even probing FEWER cells —
    the point of fitting is that one cell ≈ one true cluster."""
    k = 5
    exact = _topk_sets(similarity.brute_force_topk(clustered_emb, n_queries=10, k=k))

    def recall(centroids, n_probe) -> float:
        ivf = _topk_sets(
            similarity.ivf_topk(
                clustered_emb, n_queries=10, k=k, n_cells=8, n_probe=n_probe,
                dim=DIM, centroids=centroids,
            )
        )
        hits = sum(len(ivf.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / sum(len(nbrs) for nbrs in exact.values())

    fitted = similarity.fit_centroids(clustered_emb, n_cells=8, dim=DIM, n_iter=3)
    assert recall(fitted, 1) >= recall(None, 3), "fitted@1-probe < random@3-probe"
    assert recall(fitted, 1) >= 0.9, "fitted cells should capture whole clusters"


def test_lang_centroid_scores_partition_invariant(spark, sf_dir):
    """The quantize-then-aggregate centroid must be bit-identical under
    any partitioning — the whole reason the operator quantizes. A naive
    double sum would differ in the last ulps between these layouts."""
    from mapreduce_cs416_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    base = {
        r["doc_id"]: r["centroid_cos"]
        for r in similarity.lang_centroid_scores(docs, emb).collect()
    }
    again = {
        r["doc_id"]: r["centroid_cos"]
        for r in similarity.lang_centroid_scores(
            docs.repartition(13), emb.repartition(7)
        ).collect()
    }
    assert base == again
    assert len(base) == docs.count()


def test_lang_centroid_scores_prefers_own_centroid(spark):
    """Docs whose vectors cluster by lang must score ~1 vs their own
    language centroid (synthetic separable clusters)."""
    import pyspark.sql.functions as F

    n, dim = 40, 8
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            "j -> cast(case when (id % 2) = cast(j < 4 as int) then 1.0 + id / 100.0 "
            "else 0.01 end as float))"
        ).alias("embedding"),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "aa").otherwise("bb").alias("lang"),
    )
    out = similarity.lang_centroid_scores(docs, emb, dim=dim).collect()
    assert all(r["centroid_cos"] > 0.95 for r in out)
    assert {r["lang_n"] for r in out} == {n // 2}


# ------------------------------------------------------------ semantic dedup


def test_semantic_dedup_removes_exact_duplicates(spark):
    """An exact copy of a vector shares its cell and has cos = 1, so
    the higher-id copy must always be dropped regardless of threshold."""
    import pyspark.sql.functions as F

    dim = 8
    base = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            "j -> cast(sin(id * 7 + j) as float))"
        ).alias("embedding"),
    )
    dups = base.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    out = similarity.semantic_dedup(base.unionByName(dups), n_cells=4, threshold=0.99, dim=dim)
    kept = {r["vec_id"] for r in out.collect()}
    assert not kept & set(range(100, 110)), kept & set(range(100, 110))
    assert set(range(10)) <= kept


def test_semantic_dedup_partition_invariant_and_partitions_input(spark, sf_dir):
    """Survivors are a pure function of the data (deterministic
    centroids, min-id policy); survivors + dominated = all non-zero
    vectors."""
    from mapreduce_cs416_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # the registered parameters (plans/northstar._SEMDEDUP_*): the
    # fixture's pair cosines top out ~0.51, so the 0.5 function default
    # is vacuous here while 8 cells / 0.35 drops ~12% of vectors
    kw = dict(n_cells=8, threshold=0.35)
    base = sorted(r["vec_id"] for r in similarity.semantic_dedup(emb, **kw).collect())
    again = sorted(
        r["vec_id"] for r in similarity.semantic_dedup(emb.repartition(17), **kw).collect()
    )
    assert base == again
    assert 0 < len(base) < emb.count()  # non-vacuous: some rows dropped


def test_semantic_dedup_fitted_cells_still_remove_exact_dups(spark):
    """The data-adaptive face (fit_centroids cells): exact copies share
    any cell assignment whatever the centroids, so the higher-id copy
    must still always drop; on clustered data the fitted cells must
    not remove MORE than a sanity bound of the corpus."""
    import pyspark.sql.functions as F

    dim = 8
    base = spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> cast(sin(id % 5 + j * 3) as float))"
        ).alias("embedding"),
    )
    dups = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    emb = base.unionByName(dups)
    cents = similarity.fit_centroids(emb, n_cells=4, dim=dim, n_iter=2)
    out = similarity.semantic_dedup(emb, n_cells=4, threshold=0.999, dim=dim, centroids=cents)
    kept = {r["vec_id"] for r in out.collect()}
    assert not kept & set(range(100, 105))
    # base ids 0..59 repeat every 5 → only 5 distinct vectors + their
    # copies; at cos >= 0.999 exactly the 5 min-id representatives stay
    assert kept == set(range(5))


def test_lsh_candidate_ratio_is_measured_not_prose(spark, sf_dir):
    """VERDICT r5 item 3: the selectivity of the registered banded-LSH
    operating point must be a measured number. At 4 planes x 8 tables
    (the driver's cos-0.42 registration) the random-pair collision
    rate is 1-(1-2^-4)^8 ~= 0.403 -- i.e. the exact-verify stage
    scores ~41% of all pairs, within 2.5x of brute force. The honest
    conclusion (pinned here + in the cosine_near_dup_lsh docstring):
    this config demonstrates recall math, not scale; the scale path at
    low thresholds is semantic_dedup. At a production 0.9-threshold
    config (8 planes x 4 tables) the measured ratio must be ~2%."""
    from mapreduce_cs416_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    wide = similarity.lsh_candidate_stats(emb, n_planes=4, n_tables=8).collect()[0]
    assert wide["n_vectors"] == 500
    assert 0.35 <= wide["candidate_ratio"] <= 0.46, wide["candidate_ratio"]

    tight = similarity.lsh_candidate_stats(emb, n_planes=8, n_tables=4).collect()[0]
    assert tight["candidate_ratio"] <= 0.03, tight["candidate_ratio"]


def test_ranking_metrics_hand_computed(spark):
    """recall/mrr on a hand-built case, including a query with no
    relevant items (recall NULL, mrr from hits still counted) and a
    query whose relevant items are never retrieved (mrr 0)."""
    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2), (3, 30, 1)],
        "q_id long, neighbor_id long, rn int",
    )
    truth = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99), (2, 77), (4, 40)],
        "q_id long, rel_id long",
    )
    out = {r["q_id"]: r for r in similarity.ranking_metrics(results, truth).collect()}
    # q1: 2 of 3 relevant retrieved, first hit at rank 2
    assert out[1]["n_hit"] == 2 and out[1]["recall"] == round(2 / 3, 6)
    assert out[1]["mrr"] == 0.5
    # q2: relevant never retrieved
    assert out[2]["n_hit"] == 0 and out[2]["recall"] == 0.0 and out[2]["mrr"] == 0.0
    # q3: retrieved but nothing relevant known -> recall undefined (null)
    assert out[3]["n_relevant"] == 0 and out[3]["recall"] is None
    # q4: relevant exists, nothing retrieved at all
    assert out[4]["n_retrieved"] == 0 and out[4]["recall"] == 0.0 and out[4]["mrr"] == 0.0


def test_lsh_oracle_generator_matches_spark_at_arbitrary_points(spark, tmp_path):
    """Guards the ORACLE GENERATOR itself, not just the registered
    operating points: at three unregistered (threshold, planes,
    tables) configs over a small clustered frame, the generated
    DuckDB twin must reproduce cosine_near_dup_lsh's pairs and
    6-dp scores exactly — the plan-literal hyperplanes, the
    sequential fold order, and the verify arithmetic all replay."""
    import duckdb

    from mapreduce_cs416_spark.plans.northstar import _lsh_near_dup_sql

    dim = 16
    rows = []
    vid = 0
    for c in range(4):
        centroid = _lcg_vec(500 + c)
        for j in range(8):
            jitter = _lcg_vec(9000 + vid)
            vec = _unit([x + 0.2 * y for x, y in zip(centroid, jitter)])
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pq = str(tmp_path / "emb.parquet")
    emb.coalesce(1).write.parquet(pq)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    for threshold, n_planes, n_tables in [(0.7, 6, 3), (0.5, 3, 5), (0.95, 10, 2)]:
        got = sorted(
            tuple(r)
            for r in similarity.cosine_near_dup_lsh(
                emb, threshold, n_planes=n_planes, n_tables=n_tables, dim=dim
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                _lsh_near_dup_sql(threshold, n_planes=n_planes, n_tables=n_tables, dim=dim)
            ).fetchall()
        )
        assert got == want, (threshold, n_planes, n_tables)
    # at least one config must be non-vacuous on the clustered frame
    assert any(
        similarity.cosine_near_dup_lsh(emb, t, n_planes=p, n_tables=k, dim=dim).count() > 0
        for t, p, k in [(0.7, 6, 3), (0.5, 3, 5)]
    )


def test_lsh_eval_prod_recall_is_a_number_with_planted_stratum(spark, sf_dir):
    """VERDICT r8 item 6: the i.i.d. fixture has no true pairs above
    the production 0.9 threshold, so prod recall evaluated to an
    honest-but-useless NULL. With the planted near-dup stratum
    (plant_near_dups: deterministic v∘m twins, cos ≥ ~0.9988) the
    prod truth set is exactly the planted pairs and recall is pinned
    — near-identical vectors agree on almost every hyperplane, so the
    8x4 banding must recover nearly all of them."""
    from mapreduce_cs416_spark.sources.tables import load_table

    emb = similarity.plant_near_dups(load_table(spark, sf_dir, "embeddings"))
    rows = {
        r["point"]: r
        for r in similarity.lsh_eval(
            emb, [("demo_4x8", 0.42, 4, 8), ("prod_8x4", 0.9, 8, 4)]
        ).collect()
    }
    prod = rows["prod_8x4"]
    assert prod["n_true"] >= 40  # the planted pairs ARE the truth set
    assert prod["recall"] is not None and prod["recall"] >= 0.9, prod
    assert prod["candidate_ratio"] <= 0.03, prod
    demo = rows["demo_4x8"]
    assert demo["recall"] is not None and demo["recall"] >= 0.7, demo


def test_margin_mining_recovers_planted_cross_side_twins(spark, sf_dir):
    """Every planted twin (vec_id ↔ vec_id+1000001, parity-flipped so
    the pair spans the X/Y split) must be mined as a mutual best pair,
    and their margins must dominate any coincidental pair — the
    hubness-normalized margin is what separates true pairs from
    neighbors-of-everything (Artetxe & Schwenk 2019)."""
    from mapreduce_cs416_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planted = similarity.plant_near_dups(emb, every=10, offset=1_000_001)
    mined = similarity.margin_mine_pairs(planted, k=4, margin_threshold=1.05).collect()
    pairs = {(r["x_id"], r["y_id"]): r for r in mined}

    n_vec = emb.count()
    expected = {
        (i, i + 1_000_001) if i % 2 == 0 else (i + 1_000_001, i)
        for i in range(0, n_vec, 10)
    }
    missing = expected - pairs.keys()
    assert not missing, f"planted pairs not mined: {sorted(missing)[:5]}"
    twin_margins = [pairs[p]["margin"] for p in expected]
    other_margins = [r["margin"] for p, r in pairs.items() if p not in expected]
    assert min(twin_margins) > 1.5  # near-identical vectors dominate their top-k mean
    if other_margins:
        assert min(twin_margins) > max(other_margins)


def test_margin_mining_lsh_recovers_planted_pairs_from_sparse_candidates(spark, sf_dir):
    """The LSH-fed production face (VERDICT r9 item 4): candidates
    from the 8×4 banded buckets instead of the full cross product.
    Planted twins sit at cos ≈ 0.9988, far up the S-curve, so the
    banding must surface EVERY one (recall 1.0) while scoring only a
    small fraction of cross pairs — the whole point of the path."""
    from mapreduce_cs416_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planted = similarity.plant_near_dups(emb, every=10, offset=1_000_001)
    mined = similarity.margin_mine_pairs_lsh(
        planted, k=4, margin_threshold=1.05
    ).collect()
    pairs = {(r["x_id"], r["y_id"]): r for r in mined}

    n_vec = emb.count()
    expected = {
        (i, i + 1_000_001) if i % 2 == 0 else (i + 1_000_001, i)
        for i in range(0, n_vec, 10)
    }
    missing = expected - pairs.keys()
    assert not missing, f"planted pairs not mined: {sorted(missing)[:5]}"
    twin_margins = [pairs[p]["margin"] for p in expected]
    assert min(twin_margins) > 1.5

    # the candidate set is SPARSE: the scored-pair volume at the 8×4
    # production banding is a small fraction of the |X|·|Y| cross
    # product the brute-force face pays for (measured ~1.8% of all
    # pairs on this fixture — allow slack for the planted stratum)
    from mapreduce_cs416_spark.operators.similarity import (
        _banded_candidates,
        _bucketed,
        _prepared,
    )
    from pyspark.sql import functions as F

    from mapreduce_cs416_spark.operators.checkpoints import free

    p = _prepared(planted).where(F.col("nrm") > 0)
    n = p.count()
    pb = _bucketed(p, n_planes=8, n_tables=4, dim=64)
    n_cand = _banded_candidates(pb).count()
    free(pb)
    assert n_cand < 0.10 * n * (n - 1) / 2


def test_cosine_near_dup_lsh_keyed_blocks_are_freeable(spark, clustered_emb):
    """The returned pairs read the call's one checkpoint, so a library
    caller can free its blocks once the pairs are consumed: after
    ``free(pairs)`` no RDD the call stored stays pinned."""
    from mapreduce_cs416_spark.operators.checkpoints import free

    def stored() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    pairs = similarity.cosine_near_dup_lsh(clustered_emb, 0.9, n_planes=8, n_tables=4, dim=DIM)
    assert pairs.collect()

    assert stored() - before
    free(pairs)
    assert stored() - before == set()


def test_cosine_near_dup_lsh_pair_in_many_buckets_emitted_once(spark):
    """The cosine is scored once per shared (table, bucket): identical
    vectors collide in every table, yet each pair comes out exactly
    once, with the exact twin's score."""
    twin = _unit(_lcg_vec(11))
    rows = [(0, twin), (1, twin), (2, twin), (3, _unit(_lcg_vec(12)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = [
        tuple(r)
        for r in similarity.cosine_near_dup_lsh(emb, 0.9, n_planes=8, n_tables=4, dim=DIM).collect()
    ]
    exact = [tuple(r) for r in similarity.cosine_near_dup_pairs(emb, 0.9).collect()]
    assert sorted(lsh) == sorted(exact)
    assert sorted((a, b) for a, b, _ in lsh) == [(0, 1), (0, 2), (1, 2)]


def test_cosine_near_dup_lsh_hot_cluster_matches_exact_twin(spark):
    """A near-duplicate cluster shares a bucket in every table, so each
    of its pairs is joined once per table; it must still come out once,
    with the exact twin's score, beside random vectors that share
    buckets only by chance."""
    base = _lcg_vec(21)
    rows = [
        (i, _unit([x + 1e-3 * y for x, y in zip(base, _lcg_vec(30000 + i))]))
        for i in range(300)
    ] + [(300 + i, _unit(_lcg_vec(50000 + i))) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = [
        tuple(r)
        for r in similarity.cosine_near_dup_lsh(emb, 0.9, n_planes=8, n_tables=4, dim=DIM).collect()
    ]
    exact = [tuple(r) for r in similarity.cosine_near_dup_pairs(emb, 0.9).collect()]
    assert len(lsh) >= 300 * 299 // 2
    assert sorted(lsh) == sorted(exact)
