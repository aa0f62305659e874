"""Property tests for the dedup family — the claims the LSH operators
make (recall/precision vs the exact operators) verified on synthetic
corpora where the S-curve genuinely bites, not just on the bimodal
driver testdata.
"""

from __future__ import annotations

import pytest

from mapreduce_cs416_spark.operators import dedup


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _alpha(i: int) -> str:
    """Two-letter alphabetic id — tokens must be pure letters because
    the engine's tokenizer splits on [^\\p{L}]+ (digits would shred
    every synthetic word into single characters)."""
    return chr(97 + (i // 26) % 26) + chr(97 + i % 26)


def _mutate(words: list[str], n_swap: int, tag: str) -> list[str]:
    """Replace n_swap evenly-spaced words — deterministic 'near dup'."""
    out = list(words)
    step = max(len(out) // max(n_swap, 1), 1)
    for j in range(n_swap):
        idx = (j * step) % len(out)
        out[idx] = f"{tag}{_alpha(j)}"
    return out


BASE = ["word" + _alpha(i) for i in range(200)]


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """Pairs across the whole similarity range: doc 2k+1 is a mutation
    of doc 2k with increasing edit distance, plus unrelated docs."""
    rows = []
    for pair in range(10):
        words = [f"p{_alpha(pair)}{w}" for w in BASE]
        rows.append((2 * pair, " ".join(words)))
        rows.append(
            (2 * pair + 1, " ".join(_mutate(words, n_swap=2 * pair + 1, tag=f"mut{_alpha(pair)}")))
        )
    for i in range(20, 40):  # unrelated filler
        rows.append((i, " ".join(f"fill{_alpha(i)}{w}" for w in BASE[:50])))
    return _corpus(spark, rows)


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_lsh_recall_and_precision(near_dup_corpus):
    threshold = 0.5
    exact = dedup.ngram_jaccard_pairs(near_dup_corpus, k=3, threshold=threshold)
    lsh = dedup.minhash_lsh_pairs(
        near_dup_corpus, k=3, n_hashes=64, bands=16, threshold=threshold
    )
    exact_pairs = _pairs(exact)
    lsh_pairs = _pairs(lsh)
    assert exact_pairs, "fixture must contain true pairs above threshold"
    # precision is exact by construction (candidates are re-verified)
    assert lsh_pairs <= exact_pairs
    # recall: at s >= 0.5 the 16x4 S-curve gives P(catch) >= 1-(1-0.5^4)^16 ≈ 0.645
    # per pair; the fixture pairs near the threshold may drop, but overall
    # recall must clear half, and every pair with s >= 0.8 must be found.
    recall = len(lsh_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"recall {recall} over {len(exact_pairs)} pairs"
    hot = _pairs(exact.where("jaccard >= 0.8"))
    assert hot <= lsh_pairs, "high-similarity pairs must never be missed"


def test_minhash_oracle_banding_finds_every_pair(near_dup_corpus):
    """The DRIVER registration (32 bands × 2 rows, threshold 0.5 —
    plans/northstar._MINHASH_BANDS/_MINHASH_THRESHOLD) claims its
    exact-pair oracle holds on ANY fixture because per-pair miss
    probability (1-s²)³² ≤ 1e-4 at s ≥ 0.5. This corpus has pairs
    right across the mid-similarity band the old 16×4 registration
    went blind in — the 32×2 output must equal the exact pair set."""
    threshold = 0.5
    exact = _pairs(dedup.ngram_jaccard_pairs(near_dup_corpus, k=3, threshold=threshold))
    lsh = _pairs(
        dedup.minhash_lsh_pairs(
            near_dup_corpus, k=3, n_hashes=64, bands=32, threshold=threshold
        )
    )
    assert exact, "fixture must contain true pairs above threshold"
    assert lsh == exact, f"missed: {exact - lsh}; spurious: {lsh - exact}"


def test_minhash_excludes_shingleless_docs(spark):
    """Docs with < k words have no shingles and must not collide into a
    shared empty-signature bucket (the sentinel bug class)."""
    rows = [(1, "one"), (2, "two"), (3, "three words only")]
    sigs = dedup.minhash_signatures(_corpus(spark, rows), k=5)
    assert sigs.count() == 0
    rows += [(4, " ".join(BASE)), (5, " ".join(BASE))]
    out = dedup.minhash_lsh_pairs(_corpus(spark, rows), k=5, threshold=0.2)
    assert _pairs(out) == {(4, 5)}


def test_simhash_finds_near_identical_only(spark):
    # SimHash statistics, not folklore: a bit flips between two docs
    # only when its ±1 sign-sum margin is smaller than the change, so
    # a 1-word-of-n mutation lands at expected Hamming ≈ 64·4/√(2πn)
    # — ~7 for n=200 (the shared near_dup_corpus would need a lucky
    # hash draw to pass a ≤3 radius, and the old engine hash WAS that
    # lucky draw), but ~1 for n=4000. This fixture pins the regime
    # the 4×16-bit pigeonhole banding is actually designed for:
    # exact duplicates (Hamming 0), a 1-of-4000 mutation (measured
    # Hamming 1), a 33%-mutated twin (measured 23), unrelated filler
    # (measured 18-32).
    def vocab(tag: str, n: int) -> list[str]:
        return [f"{tag}{_alpha(i)}" for i in range(n)]

    exact = vocab("ex", 4000)
    base = vocab("mu", 4000)
    mut = list(base)
    mut[1234] = "changedword"
    far = vocab("fa", 4000)
    far_twin = [w if i % 3 else f"alt{_alpha(i)}" for i, w in enumerate(far)]
    rows = [
        (0, " ".join(exact)),
        (1, " ".join(exact)),  # identical -> Hamming 0
        (2, " ".join(base)),
        (3, " ".join(mut)),  # 1 word of 4000 -> Hamming ~1
        (4, " ".join(far)),
        (5, " ".join(far_twin)),  # every 3rd word differs -> ~23
    ]
    rows += [(10 + i, " ".join(f"fill{_alpha(97 * i + j)}" for j in range(300))) for i in range(4)]
    docs = _corpus(spark, rows)
    found = _pairs(dedup.simhash_near_dups(docs, max_hamming=3))
    assert found == {(0, 1), (2, 3)}


def test_ngram_jaccard_max_df_cap(spark):
    """max_df drops stop-shingles from the join; n_sh stays the full
    set size, so capped jaccard is an underestimate, never an
    overestimate."""
    shared = " ".join("stop" + _alpha(i) for i in range(50))
    rows = [(i, shared) for i in range(5)]  # every shingle has df=5
    docs = _corpus(spark, rows)
    uncapped = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.9)
    assert len(_pairs(uncapped)) == 10  # all C(5,2) identical pairs
    capped = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.9, max_df=4)
    assert capped.count() == 0  # every shingle dropped by the cap


def test_exact_dedup_counts(spark):
    docs = _corpus(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r["keep_doc_id"]: r["n_copies"] for r in dedup.exact_dedup_stats(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_duplicated_ngram_fraction_semantics(spark):
    """Hand-checkable corpus: doc 0 and doc 1 share a 4-gram run, doc
    2 is unique, doc 3 repeats a 4-gram internally but shares nothing
    (must NOT count: df is over per-doc distinct shingles), doc 4 is
    too short for any 4-gram (no output row)."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta zeta"),
            (2, "one two three four five six"),
            (3, "red blue green yellow red blue green yellow"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.duplicated_ngram_fraction(docs, k=4).collect()}
    # doc 0: shingles {abgd, bgde} — only 'alpha beta gamma delta' shared
    assert out[0]["n_shingles"] == 2 and out[0]["n_dup_shingles"] == 1
    assert out[0]["dup_frac"] == 0.5
    assert out[1]["n_dup_shingles"] == 1
    assert out[2]["n_dup_shingles"] == 0 and out[2]["dup_frac"] == 0.0
    # doc 3: 5 positions but distinct shingles only; internal repeat
    # of 'red blue green yellow' is df=1 → not duplicated
    assert out[3]["n_dup_shingles"] == 0
    assert 4 not in out


def test_incremental_ingest_statuses(spark):
    """All three admission decisions on a hand-built shard/corpus:
    byte-identical -> 'exact' (lowest matching corpus id, jaccard 1),
    shingle-overlapping -> 'near' (argmax-Jaccard match), otherwise
    'novel'. A doc that is BOTH exact and near must report 'exact'."""
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),  # corpus-internal copy
            (2, "one two three four five six seven"),
            (3, "totally different words here entirely"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # exact (and near)
            (101, "one two three four five nine ten"),  # near of 2
            (102, "nothing shared with anything else"),  # novel
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.incremental_ingest(new, corpus, k=3, threshold=0.2).collect()}
    assert out[100]["status"] == "exact"
    assert out[100]["best_match"] == 0  # min of the two identical corpus docs
    assert out[100]["jaccard"] == 1.0
    assert out[101]["status"] == "near" and out[101]["best_match"] == 2
    assert 0 < out[101]["jaccard"] < 1
    assert out[102]["status"] == "novel"
    assert out[102]["best_match"] is None and out[102]["jaccard"] is None


def test_incremental_ingest_indexed_equals_direct(spark, sf_dir, tmp_path_factory):
    """Serving the ingest decision from a materialized corpus index
    (digests + postings parquet) must produce exactly the direct
    operator's output — the index changes where the corpus side comes
    from, not the decision."""
    from mapreduce_cs416_spark.operators.sampling import train_val_split
    from mapreduce_cs416_spark.sources.tables import load_table

    tagged = train_val_split(load_table(spark, sf_dir, "documents"), key="doc_id")
    new = tagged.where(tagged["split"] == "val").select("doc_id", "text")
    corpus = tagged.where(tagged["split"] == "train").select("doc_id", "text")

    path = str(tmp_path_factory.mktemp("ingest") / "index")
    dedup.write_ingest_index(corpus, path, k=3)

    direct = sorted(
        map(tuple, dedup.incremental_ingest(new, corpus, k=3, threshold=0.2, max_df=1000).collect())
    )
    indexed = sorted(
        map(
            tuple,
            dedup.incremental_ingest_indexed(
                new, path, k=3, threshold=0.2, max_df=1000
            ).collect(),
        )
    )
    assert indexed == direct and direct


def test_append_ingest_index_accretion(spark, sf_dir, tmp_path_factory):
    """Shard-over-shard accretion: admit shard 1 against the index,
    append exactly the admitted documents, then gate shard 2 against
    the GROWN index — the decisions must equal a from-scratch
    incremental_ingest over corpus ∪ admitted-shard-1. This pins the
    docstring claim that accretion is a plain parquet append (no
    rebuild, no corpus rescan) and that append_ingest_index writes
    the index's own column names."""
    from mapreduce_cs416_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(docs["doc_id"] % 3 == 0)
    shard1 = docs.where(docs["doc_id"] % 3 == 1)
    shard2 = docs.where(docs["doc_id"] % 3 == 2)

    path = str(tmp_path_factory.mktemp("ingest") / "index")
    dedup.write_ingest_index(corpus, path, k=3)

    gate1 = dedup.incremental_ingest_indexed(shard1, path, k=3, threshold=0.2, max_df=1000)
    admitted_ids = [r["doc_id"] for r in gate1.where(gate1["status"] == "novel").collect()]
    assert admitted_ids  # the fixture must actually admit something
    admitted = shard1.where(shard1["doc_id"].isin(admitted_ids))
    dedup.append_ingest_index(admitted, path, k=3)

    grown_corpus = corpus.unionByName(admitted)
    direct = sorted(
        map(
            tuple,
            dedup.incremental_ingest(shard2, grown_corpus, k=3, threshold=0.2, max_df=1000).collect(),
        )
    )
    indexed = sorted(
        map(
            tuple,
            dedup.incremental_ingest_indexed(shard2, path, k=3, threshold=0.2, max_df=1000).collect(),
        )
    )
    assert indexed == direct and direct
    # accretion must be able to change a decision: some shard-2 doc
    # matches an admitted shard-1 doc, not just the original corpus
    matched_new = [
        r for r in indexed if r[1] in ("exact", "near") and r[2] in set(admitted_ids)
    ]
    stale = sorted(
        map(
            tuple,
            dedup.incremental_ingest(shard2, corpus, k=3, threshold=0.2, max_df=1000).collect(),
        )
    )
    # the grown index and the stale corpus must genuinely differ —
    # otherwise this test would pass with append_ingest_index a no-op
    assert matched_new or indexed != stale


def test_duplicated_spans_semantics(spark):
    """Planted shared passage: both carriers get ONE merged span at
    the right positions; within-doc-only repetition and unique docs
    produce no rows; two disjoint shared passages stay two spans."""
    passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = spark.createDataFrame(
        [
            # passage at words 3..10 (two unique lead-in words)
            (0, "unique opening " + passage + " tail words here"),
            # passage at words 1..8
            (1, passage + " completely different ending text"),
            # within-doc repeat only: its 4-grams have df=1 -> no rows
            (2, "solo repeat solo repeat solo repeat solo repeat"),
            # nothing shared
            (3, "entirely unrelated document body with fresh words"),
            # two disjoint shared passages -> two spans
            (4, passage + " xx yy zz ww " + passage),
        ],
        "doc_id long, text string",
    )
    rows = dedup.duplicated_spans(docs).collect()
    spans = {}
    for r in rows:
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_words"])
        )
    assert spans[0] == [(3, 10, 8)]
    assert sorted(spans[1]) == [(1, 8, 8)]
    assert 2 not in spans and 3 not in spans
    # doc 4: words 1..8 and 13..20 are the two passages (4 gap words)
    assert sorted(spans[4]) == [(1, 8, 8), (13, 20, 8)]


def test_duplicated_spans_merge_adjacent(spark):
    """Coverage that ends at word p and resumes at p+1 merges into one
    maximal run (interval union with adjacency)."""
    a = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (0, a),                              # full 8-word overlap with 1 and 2
            (1, "one two three four unrelated filler words again"),
            (2, "padding tokens here five six seven eight more"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dedup.duplicated_spans(docs).collect()
        if r["doc_id"] == 0
    }
    # doc 0: words 1-4 (shared with doc1) and 5-8 (shared with doc2)
    # are adjacent -> ONE span 1..8
    assert spans[0] == (1, 8)


def test_remove_duplicated_spans_rewrite(spark):
    """The rewrite stage slices exactly the covered words, passes
    span-free docs through verbatim (modulo the whitespace-lossy word
    normalization), and keeps every document in the output."""
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (0, "unique opening " + passage + " tail words here"),
            (1, passage + " completely different ending text"),
            (2, "entirely unrelated document body with fresh words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.remove_duplicated_spans(docs).collect()}
    assert len(out) == 3
    assert out[0]["cleaned_text"] == "unique opening tail words here"
    assert (out[0]["n_words"], out[0]["n_removed"]) == (13, 8)
    assert out[1]["cleaned_text"] == "completely different ending text"
    assert out[2]["n_removed"] == 0
    assert out[2]["cleaned_text"] == "entirely unrelated document body with fresh words"


def test_cdc_chunks_resync_after_insertion(spark):
    """The LBFS property: inserting one word re-chunks only its
    neighbourhood — every other chunk signature survives, because
    boundaries are content-defined (fixed-size chunking would shift
    every downstream block)."""
    # letter-only words (WORD_SPLIT_RE drops digits): deterministic
    # varied vocabulary so boundary hashes genuinely vary
    abc = "abcdefghijklmnopqrstuvwxyz"
    words = [
        "w" + abc[(i * 37) % 26] + abc[(i * 11) % 26] + abc[i % 26]
        for i in range(200)
    ]
    original = " ".join(words)
    edited = " ".join(words[:100] + ["INSERTED"] + words[100:])
    docs = spark.createDataFrame(
        [(0, original), (1, edited)], "doc_id long, text string"
    )
    rows = dedup.cdc_chunks(docs).collect()
    sigs = {0: set(), 1: set()}
    for r in rows:
        sigs[r["doc_id"]].add(r["chunk_md5"])
    n_chunks = sum(1 for r in rows if r["doc_id"] == 0)
    assert n_chunks >= 10, "expected ~25 chunks from 200 words at m=8"
    # at most the chunk containing the insertion (possibly split in
    # two) differs; everything else re-synchronizes
    assert len(sigs[1] - sigs[0]) <= 2
    assert len(sigs[0] - sigs[1]) <= 1
    # shared chunks are counted as shared by the store
    shared = [r for r in rows if r["n_docs_sharing"] == 2]
    assert len(shared) >= 2 * (n_chunks - 2)


def test_cdc_chunks_cover_every_word_exactly_once(spark):
    """Chunks tile each document: n_words sums to the word count and
    chunk_starts are consistent with contiguous tiling."""
    import re

    texts = {
        i: f"document number {'x' * i} body " + " ".join("tok" + "abcdefghij"[j % 10] * (j % 3 + 1) for j in range(i * 5))
        for i in range(1, 6)
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    rows = dedup.cdc_chunks(docs).collect()
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        pos = 1
        for c in chunks:
            assert c["chunk_start"] == pos
            pos += c["n_words"]
        total = sum(c["n_words"] for c in chunks)
        want = len([w for w in re.split(r"[^a-zA-Z]+", texts[doc_id]) if w])
        assert total == want


def test_containment_finds_quoted_subset(spark):
    """A short doc fully quoted inside a long one: containment 1.0 in
    the short→long direction even though symmetric Jaccard is far
    below any useful threshold; the long doc is NOT contained in the
    short one; mutual near-identical docs emit both directions."""
    quote = "the five boxing wizards jump quickly over the lazy dwarf"
    # distinct word at every position (shingling is list_distinct, so
    # repeated filler phrases would collapse to a tiny shingle set and
    # inflate the symmetric Jaccard this test wants small)
    abc = "abcdefghijklmnopqrstuvwxyz"
    filler = " ".join(
        "fill" + abc[i % 26] + abc[(i // 26) % 26] + abc[(i * 7) % 26]
        for i in range(150)
    )
    docs = spark.createDataFrame(
        [
            (0, quote),                      # 10 words, 8 shingles
            (1, filler + " " + quote + " " + filler),  # contains the quote
            (2, quote + " indeed"),          # near-identical to 0: mutual
            (3, "entirely different content with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.containment_pairs(docs, k=3, threshold=0.5).collect()
    directed = {(r["doc_contained"], r["doc_container"]): r["containment"] for r in rows}
    assert directed[(0, 1)] == 1.0          # quote fully contained
    assert (1, 0) not in directed           # asymmetry: long ⊄ short
    assert (0, 2) in directed and (2, 0) in directed  # mutual
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.01).collect()
    }
    # the symmetric measure scores the quoted pair near |A|/|B|
    assert jac[(0, 1)] < 0.1


def test_simhash_portable_hash_distribution(spark):
    """Distribution guard for the portable multiply-shift word hash:
    across documents built from disjoint random vocabularies, the
    mean pairwise SimHash Hamming distance must sit near 32 (the
    well-mixed expectation for 64 bits) and never collapse toward 0
    — the failure mode of a correlated per-bit derivation (e.g. the
    parity of a linear-in-j probe sequence, which produces long
    identical-bit runs per word and was rejected for exactly this)."""
    docs = [
        (i, " ".join(f"w{_alpha(137 * i + j)}" for j in range(120)))
        for i in range(12)
    ]
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash64(_corpus(spark, docs)).collect()
    }
    dists = [
        bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        for a in range(12)
        for b in range(a + 1, 12)
    ]
    mean = sum(dists) / len(dists)
    assert 24 <= mean <= 40, mean
    assert min(dists) >= 10, min(dists)


def test_in_memory_postings_keep_default_width(spark):
    """A corpus with no backing files has no input bytes to size the
    postings shuffle from: shingle_postings must leave Spark's width in
    place, not collapse the checkpoint onto one partition."""
    docs = _corpus(spark, [(i, f"{_alpha(i)} {_alpha(i + 1)} {_alpha(i + 2)} x") for i in range(40)])
    assert docs.inputFiles() == []
    assert dedup.shingle_postings(docs).rdd.getNumPartitions() > 1
    assert dedup._shuffle_width(docs) is None


def test_spread_leaves_in_memory_corpus_unchanged(spark, sf_dir):
    """_spread sizes from the same _input_bytes probe: a corpus with no
    backing files comes back as is, with no repartition to
    defaultParallelism; a small file-backed corpus is still spread."""
    from mapreduce_cs416_spark.sources.tables import load_table

    docs = _corpus(spark, [(i, f"{_alpha(i)} x") for i in range(10)])
    assert dedup._spread(docs) is docs
    on_disk = load_table(spark, sf_dir, "documents")
    spread = dedup._spread(on_disk)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
