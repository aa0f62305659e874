"""Sequence packing / chunking semantics: exact prefix-sum packing in
doc_id order, partition invariance (the point of the distributed
prefix sum), and chunk window/overlap arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_cs416_spark.operators import packing


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_is_exact_prefix_sum(spark):
    docs = _docs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(cnt))) for i, cnt in enumerate([3, 5, 0, 7, 2])],
    )
    out = {r["doc_id"]: r for r in packing.pack_sequences(docs, seq_len=8).collect()}
    starts = {0: 0, 1: 3, 2: 8, 3: 8, 4: 15}
    for i, s in starts.items():
        assert out[i]["start_token"] == s
        assert out[i]["seq_id"] == s // 8
        assert out[i]["seq_off"] == s % 8
    assert out[2]["n_tokens"] == 0  # empty doc occupies no tokens


def test_pack_sequences_partition_invariant(spark):
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 11 + 1).cast("int"))).alias("text"),
    )
    a = packing.pack_sequences(docs, seq_len=64).orderBy("doc_id").collect()
    b = packing.pack_sequences(docs.repartition(17), seq_len=64, n_parts=3).orderBy("doc_id").collect()
    assert a == b


def test_chunk_documents_windows_and_overlap(spark):
    docs = _docs(spark, [(0, " ".join(f"w{j}" for j in range(40))), (1, ""), (2, "solo")])
    rows = packing.chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: starts at 0, 12, 24, 36 → sizes 16, 16, 16, 4
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in c0] == [16, 16, 16, 4]
    # consecutive chunks share exactly `overlap` tokens
    w0 = c0[0]["chunk_text"].split()
    w1 = c0[1]["chunk_text"].split()
    assert w0[-4:] == w1[:4]
    assert 1 not in by_doc  # empty doc → no chunks
    assert [r["chunk_text"] for r in by_doc[2]] == ["solo"]


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = _docs(spark, [(0, "a b c")])
    with pytest.raises(ValueError):
        packing.chunk_documents(docs, chunk_tokens=8, overlap=8)


# --- property tests: random corpora vs pure-Python references ---------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _words = st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "x"]), max_size=12
    )
    _corpus = st.lists(_words, min_size=1, max_size=8)

    @given(corpus=_corpus)
    @settings(max_examples=8, deadline=None)
    def test_pack_matches_python_reference(spark, corpus):
        df = _docs(spark, [(i, " ".join(ws)) for i, ws in enumerate(corpus)])
        out = {r["doc_id"]: r for r in packing.pack_sequences(df, seq_len=7).collect()}
        acc = 0
        for i, ws in enumerate(corpus):
            r = out[i]
            assert (r["n_tokens"], r["start_token"], r["seq_id"], r["seq_off"]) == (
                len(ws), acc, acc // 7, acc % 7,
            )
            acc += len(ws)

    @given(corpus=_corpus)
    @settings(max_examples=8, deadline=None)
    def test_chunk_matches_python_reference(spark, corpus):
        df = _docs(spark, [(i, " ".join(ws)) for i, ws in enumerate(corpus)])
        got = sorted(
            (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
            for r in packing.chunk_documents(df, chunk_tokens=5, overlap=2).collect()
        )
        want = sorted(
            (i, ci, len(ws[s : s + 5]), " ".join(ws[s : s + 5]))
            for i, ws in enumerate(corpus)
            for ci, s in enumerate(range(0, len(ws), 3))
        )
        assert got == want

except ImportError:  # pragma: no cover — hypothesis is baked in, but gate anyway
    pass


def _rdd_names(cluster) -> list[str]:
    """Names of every RDD in a stage's operation-graph cluster."""
    out = []
    it = cluster.childNodes().iterator()
    while it.hasNext():
        out.append(it.next().name())
    it = cluster.childClusters().iterator()
    while it.hasNext():
        out.extend(_rdd_names(it.next()))
    return out


def test_pack_sequences_query_runs_no_python_rdd(spark, sf_dir):
    """The broadcast prefix frame is built on the driver; as a
    LocalTableScan it is read in the JVM, so no stage of the query
    runs a Python worker (a tuple-list createDataFrame would be a
    PythonRDD read in every task)."""
    from mapreduce_cs416_spark.plans.registry import ALL_QUERIES

    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().nextJobId()
    ALL_QUERIES["corpus_pack_sequences"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList()).iterator()
    stages = []
    while jobs.hasNext():
        j = jobs.next()
        if j.jobId() >= first:
            stages += [int(s) for s in j.stageIds().mkString(",").split(",") if s]
    assert stages
    for s in stages:
        names = _rdd_names(store.operationGraphForStage(s).rootCluster())
        assert "PythonRDD" not in names, f"stage {s}: {names}"
