"""Seeded input generation for the benchmark.

Every input is derived from a committed base point (``data/sf0.01`` or
``data/sf0.001``, copies of the generator's deterministic tables) by a
seeded re-keying in the spirit of ``tools/make_scale_point.py``:

- every entity key moves by a seeded multiple of 10^7 (base keys, and
  the 10^6 near-dup plant offset, stay below 10^7, so referential
  integrity holds);
- document text is Caesar-rotated by a seeded amount and embeddings
  rotate their dimension order by a seeded amount, which keeps the
  token, shingle and neighbour structure while changing every hash.

The seed also picks the key slices behind each micro-batch of the
streaming item (``sink_feed``). The program only ever sees the written
files.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASES = {"sf0.01": os.path.join(HERE, "data", "sf0.01"), "sf0.001": os.path.join(HERE, "data", "sf0.001")}

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()
KEY_STEP = 10_000_000
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ("region", "nation")


def _select(con, table: str, src: str, off: int, rot: int, erot: int) -> str:
    cols = []
    for (c,) in con.execute(f"SELECT column_name FROM (DESCRIBE SELECT * FROM '{src}')").fetchall():
        if c in KEY_COLS.get(table, ()):
            cols.append(f"{c} + {off} AS {c}")
        elif table == "documents" and c == "text":
            cols.append(
                f"translate(text, '{LOWER}{UPPER}', '{LOWER[rot:]}{LOWER[:rot]}{UPPER[rot:]}{UPPER[:rot]}') AS text"
            )
        elif table == "embeddings" and c == "embedding":
            cols.append(f"list_concat(embedding[{erot + 1}:], embedding[1:{erot}]) AS embedding")
        else:
            cols.append(c)
    return ", ".join(cols)


def make_tables(base: str, out_dir: str, rng: random.Random) -> dict:
    """Write one re-keyed parquet file per table into ``out_dir``;
    returns the seeded parameters."""
    src_dir = BASES[base]
    os.makedirs(out_dir, exist_ok=True)
    dim = len(pq.read_table(f"{src_dir}/embeddings.parquet", columns=["embedding"])["embedding"][0])
    params = {"key_offset": rng.randrange(1, 64) * KEY_STEP, "text_rot": rng.randrange(26), "emb_rot": rng.randrange(dim)}
    con = duckdb.connect()
    try:
        for table in DIM_TABLES:
            con.execute(f"COPY (SELECT * FROM '{src_dir}/{table}.parquet') TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)")
        for table in KEY_COLS:
            src = f"{src_dir}/{table}.parquet"
            cols = _select(con, table, src, *params.values())
            con.execute(f"COPY (SELECT {cols} FROM '{src}') TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    return params


def _write_shard(con, sql: str, path: str, i: int) -> None:
    """One micro-batch file. Strictly increasing mtimes make the file
    source (oldest first) deliver the shards in the seeded order."""
    pq.write_table(con.execute(sql).arrow(), path)
    os.utime(path, (1_000_000 + i * 100, 1_000_000 + i * 100))


SINK_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"


def sink_feed(sf_dir: str, out_dir: str, rng: random.Random, shards: int) -> dict:
    """The native manifest sink's feed: appends of NEW order keys (each
    existing key moved past the largest one). The seed picks which
    ``shards`` of the ``2 * shards`` residue classes of ``o_orderkey``
    arrive, and in which order, one parquet file per micro-batch."""
    m = 2 * shards
    classes = rng.sample(range(m), shards)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        src = f"'{sf_dir}/orders.parquet'"
        (max_key,) = con.execute(f"SELECT max(o_orderkey) FROM {src}").fetchone()
        cols = SINK_COLS.replace("o_orderkey,", f"o_orderkey + {max_key} AS o_orderkey,", 1)
        for i, c in enumerate(classes):
            sql = f"SELECT {cols} FROM {src} WHERE o_orderkey % {m} = {c} ORDER BY o_orderkey"
            _write_shard(con, sql, os.path.join(out_dir, f"shard{i}.parquet"), i)
    finally:
        con.close()
    return {"sink_dir": out_dir, "sink_max_key": max_key, "sink_classes": classes}
