"""Sequence packing & document chunking (north-star surface): the two
layout transforms a training-data pipeline runs between "clean corpus"
and "token batches".

- ``pack_sequences``: concat-and-chunk packing — documents are laid
  end-to-end in deterministic doc_id order and every doc learns which
  fixed-length training sequence its tokens start in. The global
  running offset is a DISTRIBUTED PREFIX SUM, not a single-task
  global window: range-partition by the packing order, aggregate one
  subtotal per partition (tiny, collected to the driver like AQE
  stats), broadcast the exclusive partition prefixes back, and run
  the within-partition running sum as a window PARTITIONED by the
  range partition id — every partition computes its window in
  parallel. A bare ``Window.orderBy(...)`` with no partitionBy would
  funnel 100 TB through one task; this shape never does.

- ``chunk_documents``: split each document into overlapping
  fixed-token windows (RAG/embedding prep). Entirely row-local
  (sequence → slice → explode), no shuffle at all.

Integer arithmetic end-to-end ⇒ bit-reproducible ⇒ both carry exact
DuckDB oracles (plans/northstar.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words_col
from ..sources.tables import local_frame


def pack_sequences(docs: DataFrame, seq_len: int = 512, n_parts: int | None = None) -> DataFrame:
    """(doc_id, n_tokens, start_token, seq_id, seq_off): each doc's
    global token offset under concat-in-doc_id-order packing, and the
    training sequence (of ``seq_len`` tokens) that offset lands in.
    Docs longer than a sequence simply span several — standard
    concat-and-chunk semantics."""
    spark = docs.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    t = (
        docs.select("doc_id", F.size(words_col("text")).alias("n_tokens"))
        .repartitionByRange(n_parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    # one row per partition — bounded by the partition count, the same
    # order of driver-side state AQE itself keeps; NOT a data collect
    totals = sorted(
        (r["pid"], r["tot"])
        for r in t.groupBy("pid").agg(F.sum("n_tokens").alias("tot")).collect()
    )
    prefixes, acc = [], 0
    for pid, tot in totals:
        prefixes.append((pid, acc))
        acc += tot or 0
    pre = F.broadcast(local_frame(spark, prefixes or [(0, 0)], "pid int, prefix long"))
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("prefix")
    return (
        t.join(pre, "pid")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_token"),
            (start / seq_len).cast("long").alias("seq_id"),
            (start % seq_len).cast("int").alias("seq_off"),
        )
    )


def chunk_documents(docs: DataFrame, chunk_tokens: int = 32, overlap: int = 8) -> DataFrame:
    """(doc_id, chunk_idx, n_chunk_tokens, chunk_text): overlapping
    token windows of ``chunk_tokens`` words with ``overlap`` words of
    context carried between neighbors. Row-local higher-order
    expressions only — the corpus scan never shuffles; empty documents
    produce no chunks."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    def chunks_of(ws):
        starts = F.sequence(F.lit(0), F.size(ws) - 1, F.lit(stride))
        return F.when(F.size(ws) <= 0, F.array().cast("array<int>")).otherwise(starts)

    return (
        docs.select("doc_id", words_col("text").alias("ws"))
        .select("doc_id", "ws", F.posexplode(chunks_of(F.col("ws"))).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.slice("ws", F.col("start") + 1, chunk_tokens).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_chunk_tokens"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
        )
    )
