"""Connected components (operators/graph): correctness on known
topologies, convergence behavior, and the dedup_components contract
(every doc labeled, transitive closure of near-dup pairs collapsed).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_cs416_spark.operators import graph


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = graph.connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def _stored(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_two_separate_components(spark):
    labels = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_path_graph_collapses_to_min(spark):
    # a 30-node path is the adversarial case for naive propagation
    # (O(diameter) rounds); large-star/small-star closes it in O(log n)
    n = 30
    labels = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(labels) == set(range(n + 1))
    assert set(labels.values()) == {0}


def test_orientation_and_duplicates_ignored(spark):
    labels = _cc(spark, [(5, 3), (3, 5), (5, 3), (3, 4), (7, 7)])
    # self-loop (7,7) contributes no component; 3-4-5 collapse to 3
    assert labels == {3: 3, 4: 3, 5: 3}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert graph.connected_components(df).count() == 0


def test_star_already_converged(spark):
    labels = _cc(spark, [(1, 0), (2, 0), (3, 0)])
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0}


def test_nonconvergence_raises(spark):
    """Giving up raises, and leaves no RDD of the call in storage."""
    before = _stored(spark)
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(df, max_iter=1)
    assert _stored(spark) - before == set()


def test_dedup_components_labels_every_doc(spark, sf_dir):
    from mapreduce_cs416_spark.plans.northstar import dedup_components
    from mapreduce_cs416_spark.sources.tables import load_table

    out = dedup_components(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], []).append(r)
    for comp, members in by_comp.items():
        # component id is the minimum member, exactly one canonical row
        assert comp == min(m["doc_id"] for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["component_size"] == len(members) for m in members)
    # the corpus has near-dup pairs, so at least one non-trivial cluster
    assert any(len(m) > 1 for m in by_comp.values())


def test_transitive_chain_collapses(spark):
    # A~B and B~C but never A~C: all three must share one component
    labels = _cc(spark, [(100, 200), (200, 300)])
    assert labels == {100: 100, 200: 100, 300: 100}


_PATH60 = [(i, i + 1) for i in range(60)]

# each loop on an input that takes it several rounds (star rounds on
# the 60-node path, peel rounds on a 16-node path ending in a
# triangle), with a check of its result
_LOOPS = {
    "connected_components": (
        graph.connected_components,
        _PATH60,
        lambda rows: {r["component"] for r in rows} == {0},
    ),
    "kcore": (
        graph.kcore,
        [(i, i + 1) for i in range(16)] + [(14, 16)],
        lambda rows: {r["node"] for r in rows} == {14, 15, 16},
    ),
    "pagerank_fixed": (
        lambda df: graph.pagerank_fixed(df, src="doc_a", dst="doc_b"),
        _PATH60,
        lambda rows: len(rows) == 61,
    ),
}


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_superseded_checkpoints_released(spark, loop):
    """Each round checkpoints; superseded rounds' blocks must be
    unpersisted as the loop advances, not pinned until GC (VERDICT
    r4: pinned blocks bled a 3× regression into the next bench query).
    Only the returned state's checkpoint may remain at the end."""
    call, edges, check = _LOOPS[loop]
    before = _stored(spark)
    assert check(call(spark.createDataFrame(edges, "doc_a long, doc_b long")).collect())
    left = _stored(spark) - before
    assert len(left) <= 1, f"{len(left)} checkpointed RDDs left persisted after {loop}"


def test_kcore_nonconvergence_frees_every_checkpoint(spark):
    """The path 0..40 plus the chord (0, 39) is a 40-cycle with
    pendant node 40, so it needs a second peel round; with one
    allowed, kcore raises and leaves no RDD of the call in storage —
    neither its edge checkpoint nor the last round's degrees."""
    before = _stored(spark)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(0, 39)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="kcore did not converge in 1 rounds"):
        graph.kcore(df, max_rounds=1)
    assert _stored(spark) - before == set()


def test_random_graphs_match_union_find(spark):
    """Differential test: large-star/small-star vs a driver-side
    union-find on seeded random graphs (deterministic — no flaky
    shrinking across Spark jobs)."""
    import random

    for seed, n_nodes, n_edges in [(1, 50, 30), (2, 80, 120), (3, 200, 100)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {x for e in edges for x in e}
        expected = {x: find(x) for x in in_graph}
        # normalize: union-find roots are component minima here because
        # unions always attach the larger root under the smaller
        got = _cc(spark, edges)
        assert got == expected, f"seed={seed}"


# ----------------------------------------------------------------- pagerank
def _numpy_pagerank(edges: list[tuple[int, int]], n_iter: int, damping: float):
    """Dense power-iteration reference with uniform dangling
    redistribution — the exact semantics operators/graph.pagerank
    claims."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {node: i for i, node in enumerate(nodes)}
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for u, v in set(edges):
        if u != v:
            out.setdefault(u, []).append(v)
    r = [1.0 / n] * n
    for _ in range(n_iter):
        dangling = sum(r[idx[x]] for x in nodes if x not in out)
        contrib = [0.0] * n
        for u, vs in out.items():
            share = r[idx[u]] / len(vs)
            for v in vs:
                contrib[idx[v]] += share
        base = (1.0 - damping) / n + damping * dangling / n
        r = [base + damping * c for c in contrib]
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_matches_numpy_reference(spark):
    import random

    from mapreduce_cs416_spark.operators.graph import pagerank

    rng = random.Random(416)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(150)})
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    want = _numpy_pagerank(edges, n_iter=10, damping=0.85)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], rel=1e-9, abs=1e-12)


def test_pagerank_mass_conserved_with_dangling_nodes(spark):
    from mapreduce_cs416_spark.operators.graph import pagerank

    # 3 is a pure sink (dangling): its mass must be redistributed,
    # keeping the total at exactly 1 within float tolerance
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "u long, v long")
    ranks = pagerank(df, n_iter=12).collect()
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_chain_orders_ranks(spark):
    from mapreduce_cs416_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=15).collect()}
    assert got[3] > got[2] > got[1]


# ------------------------------------------------------------- triangles


def test_triangle_counts_on_known_graph(spark):
    """4-clique on {0,1,2,3} (4 triangles, each node in 3) plus a
    path 10-11-12 (0 triangles) plus a star at 20 (0 triangles)."""
    from mapreduce_cs416_spark.operators.graph import triangle_counts

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    path = [(10, 11), (11, 12)]
    star = [(20, x) for x in (21, 22, 23, 24)]
    pairs = spark.createDataFrame(clique + path + star, ["vec_a", "vec_b"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_orientation_invariant(spark):
    """Edge orientation and duplicate edges must not change counts
    (the operator canonicalizes via least/greatest + distinct)."""
    from mapreduce_cs416_spark.operators.graph import triangle_counts

    fwd = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["vec_a", "vec_b"])
    rev = spark.createDataFrame(
        [(1, 0), (2, 1), (2, 0), (0, 1), (0, 2)], ["vec_a", "vec_b"]
    )
    a = sorted((r["node"], r["n_triangles"]) for r in triangle_counts(fwd).collect())
    b = sorted((r["node"], r["n_triangles"]) for r in triangle_counts(rev).collect())
    assert a == b == [(0, 1), (1, 1), (2, 1)]


def _brute_triangles(edges) -> dict[int, int]:
    """Per-node triangle counts by checking every node triple of the
    undirected simple graph the edge list denotes."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    out: dict[int, int] = {}
    for i, a in enumerate(nodes):
        for j, b in enumerate(nodes[i + 1 :], i + 1):
            if b not in adj[a]:
                continue
            for c in nodes[j + 1 :]:
                if c in adj[a] and c in adj[b]:
                    for x in (a, b, c):
                        out[x] = out.get(x, 0) + 1
    return out


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """A seeded random graph with every shape the orientation must
    survive: a hub of degree 22 attached to two 6-cliques and ten
    leaves (many degree ties inside the cliques), a sparse random part
    whose edges sometimes hit the cliques, plus duplicated, reversed
    and self-loop edges."""
    import random

    rng = random.Random(seed)
    edges = []
    for base in (100, 200):
        members = range(base, base + 6)
        edges += [(a, b) for a in members for b in members if a < b]
        edges += [(0, m) for m in members]
    edges += [(0, 300 + i) for i in range(10)]
    edges += [(rng.randrange(1, 40), rng.randrange(1, 40)) for _ in range(70)]
    edges += [(rng.randrange(1, 40), rng.choice([100, 105, 200, 203])) for _ in range(6)]
    extra = rng.sample(edges, 20)
    edges += [(b, a) for a, b in extra[:10]] + extra[10:]
    edges += [(n, n) for n in (0, 7, 100)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangle_counts_match_brute_force(spark, seed):
    """triangle_counts equals a pure-Python triple scan on seeded
    random graphs with ties, a degree-22 hub, duplicate/reversed
    edges and self-loops."""
    from mapreduce_cs416_spark.operators.graph import triangle_counts

    edges = _random_graph(seed)
    hub_deg = len({b if a == 0 else a for a, b in edges if 0 in (a, b) and a != b})
    assert hub_deg >= 20
    pairs = spark.createDataFrame(edges, "vec_a long, vec_b long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    assert got == _brute_triangles(edges)


def test_kcore_peels_chains_keeps_triangle(spark):
    """Triangle {1,2,3} with a pendant chain 3-4-5: the 2-core must
    peel 5 (degree 1), then 4 (degree 1 after the first round) — two
    genuine rounds — and keep exactly the triangle at degree 2."""
    from mapreduce_cs416_spark.operators.graph import kcore

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["core_degree"] for r in kcore(pairs, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_when_no_core(spark):
    """A pure chain has no 2-core: every round exposes new degree-1
    endpoints until nothing is left."""
    from mapreduce_cs416_spark.operators.graph import kcore

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    assert kcore(pairs, k=2).count() == 0


def test_kcore_k3_keeps_clique_drops_triangle(spark):
    """k=3: a 4-clique survives with degree 3; an attached triangle
    (degrees 2 inside) and its bridge peel away."""
    from mapreduce_cs416_spark.operators.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    triangle = [(10, 11), (11, 12), (10, 12), (0, 10)]
    pairs = spark.createDataFrame(clique + triangle, "doc_a long, doc_b long")
    got = {r["node"]: r["core_degree"] for r in kcore(pairs, k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_lsh_equals_exact_on_planted_cliques(spark):
    """The graph_triangles_lsh composition (plans/northstar): on
    planted IDENTICAL-vector cliques, equal vectors land in the same
    bucket of every LSH table, so the banded edge list equals the
    exact all-pairs one deterministically (recall exactly 1, no
    S-curve) and the LSH-fed triangle counts match the exact-fed
    twin node-for-node — the scale path loses nothing on true
    duplicate cliques."""
    import math

    from mapreduce_cs416_spark.operators import similarity

    dim = 16

    def lcg_vec(seed: int) -> list[float]:
        state = seed
        out = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
            out.append((state >> 11) / float(2**53) * 2.0 - 1.0)
        nrm = math.sqrt(sum(x * x for x in out))
        return [x / nrm for x in out]

    rows = []
    sizes = [4, 3, 5]
    vid = 0
    for c, size in enumerate(sizes):
        vec = lcg_vec(31 + c)
        for _ in range(size):
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact_pairs = similarity.cosine_near_dup_pairs(emb, 0.9)
    lsh_pairs = similarity.cosine_near_dup_lsh(emb, 0.9, n_planes=8, n_tables=4, dim=dim)
    t_exact = {(r["node"], r["n_triangles"]) for r in graph.triangle_counts(exact_pairs).collect()}
    t_lsh = {(r["node"], r["n_triangles"]) for r in graph.triangle_counts(lsh_pairs).collect()}
    assert t_exact == t_lsh

    # every member of a c-clique closes C(c-1, 2) triangles; the
    # size-3 clique contributes 1 per node, 4 -> 3, 5 -> 6
    expected = {}
    vid = 0
    for size in sizes:
        for _ in range(size):
            expected[vid] = (size - 1) * (size - 2) // 2
            vid += 1
    assert t_lsh == {(v, n) for v, n in expected.items() if n > 0}


def test_pagerank_fixed_orders_like_float_and_conserves_mass(spark):
    """The fixed-point twin must rank nodes in the same order as the
    float power iteration (floors perturb ranks by ~1e-9·scale, far
    below the rank gaps of a structured graph) and keep total mass
    within n_nodes floors of the scale."""
    from mapreduce_cs416_spark.operators.graph import pagerank, pagerank_fixed

    # a hub-and-chain digraph with a dangling sink (node 5)
    edges = [(1, 2), (3, 2), (4, 2), (2, 5), (1, 3), (3, 4)]
    df = spark.createDataFrame(edges, "u long, v long")
    fp = {r["node"]: r["rank_fp"] for r in pagerank_fixed(df, n_iter=8).collect()}
    fl = {r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}
    assert set(fp) == set(fl)
    order_fp = sorted(fp, key=lambda k: (fp[k], k))
    order_fl = sorted(fl, key=lambda k: (fl[k], k))
    assert order_fp == order_fl
    scale, n = 10**9, len(fp)
    # every round floors at most once per node plus the dangling share
    assert scale >= sum(fp.values()) > scale - 20 * n * 8


def test_pagerank_fixed_partitioning_invariant(spark):
    """Integer sums commute: 1-partition and 16-partition runs must
    be BIT-identical — the property the float twin cannot offer and
    the reason this face carries the exact oracle."""
    from mapreduce_cs416_spark.operators.graph import pagerank_fixed

    edges = [(i, (i * 7) % 23) for i in range(40)] + [(i, (i + 1) % 11) for i in range(40)]
    base = spark.createDataFrame([(a, b) for a, b in edges if a != b], "u long, v long")
    one = {tuple(r) for r in pagerank_fixed(base.coalesce(1), n_iter=6).collect()}
    many = {tuple(r) for r in pagerank_fixed(base.repartition(16), n_iter=6).collect()}
    assert one == many


def test_broadcast_gate_fallback_paths_agree(spark):
    """kcore / pagerank_fixed with the node-broadcast hint DISABLED
    (broadcast_max_nodes=0 — the executor-memory escape hatch above
    the threshold) must produce exactly the hinted plans' results:
    the hint is a physical choice, never a semantic one."""
    from pyspark.sql import functions as F

    from mapreduce_cs416_spark.operators.graph import kcore, pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (1, 6), (2, 6)],
        "u long, v long",
    )
    pairs = edges.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    a = sorted(tuple(r) for r in kcore(pairs, k=2).collect())
    b = sorted(tuple(r) for r in kcore(pairs, k=2, broadcast_max_nodes=0).collect())
    assert a == b and a
    ra = sorted(tuple(r) for r in pagerank_fixed(edges, n_iter=4).collect())
    rb = sorted(
        tuple(r) for r in pagerank_fixed(edges, n_iter=4, broadcast_max_nodes=0).collect()
    )
    assert ra == rb and ra  # integer fixed-point: bit-identical
