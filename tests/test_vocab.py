"""Contracts of operators/vocab.py: frequency-ranked ids, order-
preserving encoding, OOV handling, and partition invariance (the id
assignment is a pure function of the corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_cs416_spark.functions.text import py_letter_tokens, words_col
from mapreduce_cs416_spark.operators import vocab
from mapreduce_cs416_spark.sources.tables import load_table


def _docs(spark):
    return spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat"),
            (2, "zebra"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )


def test_vocab_ranks_by_frequency_then_token(spark):
    docs = _docs(spark)
    toks = docs.select(F.explode(F.split("text", r"[^\p{L}]+")).alias("token")).where(
        F.col("token") != ""
    )
    v = {r["tok"]: r["id"] for r in vocab.build_vocab(toks, size=3).collect()}
    # counts: the=3, sat=2, rest=1 → ids 1, 2; third slot = alphabetic
    # tie-break among count-1 tokens (cat < dog < mat < on < zebra)
    assert v == {"the": 1, "sat": 2, "cat": 3}


def test_encode_preserves_order_and_marks_oov(spark):
    docs = _docs(spark)
    out = {r["doc_id"]: r for r in vocab.vocab_encode(docs, size=3).collect()}
    # doc 3 has no tokens → no row (matches the SQL twin)
    assert set(out) == {0, 1, 2}
    ids = {d: list(out[d]["ids"]) for d in out}
    # vocab: the=1 sat=2 cat=3; everything else OOV (0)
    assert ids[0] == [1, 3, 2, 0, 1, 0]  # the cat sat on the mat
    assert ids[1] == [1, 0, 2]  # the dog sat
    assert ids[2] == [0]  # zebra
    assert out[0]["n_tokens"] == 6 and out[0]["n_oov"] == 2
    assert out[2]["n_oov"] == 1


def test_encode_matches_python_tokenizer_counts(spark, sf_dir):
    """n_tokens must equal the compat tokenizer's count per document —
    the encoding covers exactly the token stream, nothing dropped."""
    docs = load_table(spark, sf_dir, "documents")
    enc = {r["doc_id"]: r["n_tokens"] for r in vocab.vocab_encode(docs).collect()}
    for row in docs.select("doc_id", "text").limit(50).collect():
        expect = len(py_letter_tokens(row["text"]))
        if expect:
            assert enc[row["doc_id"]] == expect, row["doc_id"]
        else:
            assert row["doc_id"] not in enc


def test_vocab_encode_is_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    base = {(r["doc_id"], tuple(r["ids"])) for r in vocab.vocab_encode(docs).collect()}
    again = {
        (r["doc_id"], tuple(r["ids"]))
        for r in vocab.vocab_encode(docs.repartition(13)).collect()
    }
    assert base == again and base


def test_bpe_merge_counts_hand_corpus(spark):
    """Adjacent pairs are counted per distinct word and weighted by
    the word's corpus frequency; single-char words contribute none."""
    from mapreduce_cs416_spark.operators.vocab import bpe_merge_counts

    docs = spark.createDataFrame(
        [(0, "abab abab ab"), (1, "ab cd x")], "doc_id long, text string"
    )
    out = {r["pair"]: (r["n"], r["rank"]) for r in bpe_merge_counts(docs).collect()}
    # 'abab' (count 2) contributes pairs ab,ba,ab -> ab x2, ba x1 per occurrence
    # 'ab' (count 2) contributes ab; 'cd' (1) -> cd; 'x' too short
    assert out["ab"][0] == 2 * 2 + 2  # 6
    assert out["ba"][0] == 2
    assert out["cd"][0] == 1
    assert "x" not in out
    assert out["ab"][1] == 1  # the winning merge rule


def _ref_bpe(word_counts: dict[str, int], k: int):
    """Independent pure-Python BPE trainer (Sennrich alg. 1, tuple-of-
    symbols representation, NO shared code with the operator): returns
    (merges, final word symbol tuples)."""
    words = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (lft, rgt), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, lft, rgt, lft + rgt, n))
        out = {}
        for syms, c in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                    res.append(lft + rgt)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out[tuple(res)] = out.get(tuple(res), 0) + c
        words = out
    return merges, words


def _wc_docs(spark, wc: dict[str, int]):
    return spark.createDataFrame(
        [(0, " ".join([w for w, c in wc.items() for _ in range(c)]))],
        "doc_id long, text string",
    )


def _merge_rows(df) -> list[tuple]:
    return [
        (r["rank"], r["lft"], r["rgt"], r["merged"], r["weight"])
        for r in df.orderBy("rank").collect()
    ]


def test_bpe_train_matches_sequential_reference(spark):
    """The trainer reproduces the sequential reference
    algorithm merge-for-merge on the classic Sennrich fixture
    (low/lower/newest/widest), including an a==b run-merge round."""
    from mapreduce_cs416_spark.operators.vocab import bpe_train_table

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "zzz": 4}
    expected, _ = _ref_bpe(wc, 6)
    got = _merge_rows(bpe_train_table(_wc_docs(spark, wc), n_merges=6))
    assert got == expected
    # the zzz words exercise the a==b case: a run of 3 'z' must pair
    # left-to-right into ('zz','z'), never double-count the middle
    assert ("z", "z") in {(l, r) for _, l, r, _, _ in expected}


def test_bpe_encode_pieces_match_reference_vocab(spark):
    from mapreduce_cs416_spark.operators.vocab import bpe_encode_pieces

    wc = {"hugging": 3, "hugs": 5, "huge": 2, "bug": 4, "bugs": 1}
    docs = _wc_docs(spark, wc)
    _, ref_words = _ref_bpe(wc, 5)
    ref_counts: dict[str, int] = {}
    for syms, c in ref_words.items():
        for s in syms:
            ref_counts[s] = ref_counts.get(s, 0) + c
    got = {r["piece"]: r["n"] for r in bpe_encode_pieces(docs, n_merges=5, top_k=100).collect()}
    assert got == ref_counts


def test_vocab_encode_literal_map_matches_join_path(spark, sf_dir):
    """The inlined-literal-map encode (vocab_encode) and the
    join/regroup scale path (encode_documents) are the same function
    of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(words_col("text")).alias("token"))
    via_join = {
        (r["doc_id"], tuple(r["ids"]), r["n_tokens"], r["n_oov"])
        for r in vocab.encode_documents(docs, vocab.build_vocab(tokens, size=25)).collect()
    }
    via_map = {
        (r["doc_id"], tuple(r["ids"]), r["n_tokens"], r["n_oov"])
        for r in vocab.vocab_encode(docs, size=25).collect()
    }
    assert via_map == via_join and via_map


def test_bpe_doc_encode_matches_reference_segmentation(spark):
    """bpe_encode_docs must tokenize each document exactly as the
    sequential reference: same piece segmentation per word, same
    frequency-ranked piece ids, ids in word order then piece order."""
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join([w for w, c in wc.items() for _ in range(c)])
    docs = spark.createDataFrame(
        [(0, text), (1, "lower low"), (2, "newest widest newest")],
        "doc_id long, text string",
    )
    # full corpus counts drive training (all three docs)
    full = {}
    for t in [text, "lower low", "newest widest newest"]:
        for w in t.split():
            full[w] = full.get(w, 0) + 1
    _, ref_words = _ref_bpe(full, 5)
    seg = {"".join(syms): list(syms) for syms in ref_words}
    counts: dict[str, int] = {}
    for syms, c in ref_words.items():
        for s in syms:
            counts[s] = counts.get(s, 0) + c
    ranked = sorted(counts, key=lambda p: (-counts[p], p))
    pid = {p: i + 1 for i, p in enumerate(ranked)}

    got = {r["doc_id"]: r for r in vocab.bpe_encode_docs(docs, n_merges=5).collect()}
    for doc_id, t in [(0, text), (1, "lower low"), (2, "newest widest newest")]:
        words = t.split()
        want = [pid[p] for w in words for p in seg[w]]
        assert list(got[doc_id]["ids"]) == want, doc_id
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["n_pieces"] == len(want)


def test_bpe_single_letter_corpus_learns_no_merges(spark):
    """No word has two symbols: the merge table is empty but keeps its
    declared schema, and the encode path still answers (every piece is
    a letter)."""
    wc = {"a": 3, "b": 1, "é": 2}
    docs = _wc_docs(spark, wc)
    expected, _ = _ref_bpe(wc, 4)
    table = vocab.bpe_train_table(docs, n_merges=4)
    assert expected == [] and _merge_rows(table) == []
    assert table.schema.simpleString() == (
        "struct<rank:int,lft:string,rgt:string,merged:string,weight:bigint>"
    )
    got = {r["piece"]: r["n"] for r in vocab.bpe_encode_pieces(docs, n_merges=4).collect()}
    assert got == wc


def test_bpe_stops_early_when_merges_run_out(spark):
    wc = {"abc": 3, "ab": 2, "cd": 1}
    expected, _ = _ref_bpe(wc, 50)
    got = _merge_rows(vocab.bpe_train_table(_wc_docs(spark, wc), n_merges=50))
    assert got == expected and len(got) < 50


def test_bpe_non_ascii_tie_breaks_like_spark_order(spark):
    """('a','z') and ('a','é') tie on count; the winner must be the one
    Spark's binary string order ranks first in bpe_merge_counts."""
    wc = {"az": 2, "aé": 2, "bé": 1, "bz": 1}
    docs = _wc_docs(spark, wc)
    expected, _ = _ref_bpe(wc, 3)
    got = _merge_rows(vocab.bpe_train_table(docs, n_merges=3))
    assert got == expected
    top = vocab.bpe_merge_counts(docs).where("rank = 1").collect()[0]
    assert (got[0][3], got[0][4]) == (top["pair"], top["n"]) == ("az", 2)


def test_corpus_bpe_train_job_budget(spark, sf_dir):
    """Merge rounds run on the driver: the registered query is one
    distributed wordcount plus the sink, and more rounds cost no jobs."""
    from mapreduce_cs416_spark.plans.northstar import corpus_bpe_train
    from mapreduce_cs416_spark.testing import count_jobs

    with count_jobs(spark) as jobs:
        corpus_bpe_train(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert jobs.n <= 4, f"corpus_bpe_train ran {jobs.n} Spark jobs"

    docs = load_table(spark, sf_dir, "documents")
    per_k = {}
    for k in (2, 8):
        with count_jobs(spark) as jobs:
            vocab.bpe_train_table(docs, n_merges=k).collect()
        per_k[k] = jobs.n
    assert per_k[2] == per_k[8], per_k
