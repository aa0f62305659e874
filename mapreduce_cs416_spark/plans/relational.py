"""Relational queries over the TPC-H-ish tables (SURVEY.md §2.C).

The reference leaves this whole layer "composable" — any of these
could be written as a Map/Reduce pair on its A-layer dataflow
(e.g. the classic tag-and-union reduce-side join). Here each is the
idiomatic Spark built-in, which is the point of the engine: Catalyst
picks broadcast vs sort-merge joins, pushes filters into the parquet
scan, prunes columns, and AQE re-plans shuffles at runtime.

Determinism rules used throughout (driver hash-compares vs DuckDB):
- double aggregations go through DECIMAL(25,6) (see functions/numeric)
  so partial-agg order cannot perturb the result;
- every LIMIT/top-k has a total tie-break order;
- per-row double math is identical IEEE sequences on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import DEC, decimal_sum, sql_decimal_sum
from ..sources.tables import load_table
from .spec import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# the UDTF tokenizer reproduces the reference tokenizer exactly, so it
# shares the wordcount oracle (plans/corpus.py)
_WORDCOUNT_ORACLE = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


# ------------------------------------------------------------------ Q1-style
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-filter-aggregate.

    Plan: parquet scan with l_shipdate predicate pushed down and only
    7 columns read → partial hash-agg → 1 shuffle on the two group
    keys (low cardinality → tiny exchange) → final agg. AQE coalesces
    the post-shuffle partitions.
    """
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        decimal_sum(F.col("l_quantity"), "sum_qty"),
        decimal_sum(F.col("l_extendedprice"), "sum_base_price"),
        decimal_sum(disc_price, "sum_disc_price"),
        decimal_sum(charge, "sum_charge"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "*",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
    )


Q1_SQL = f"""
WITH agg AS (
    SELECT l_returnflag, l_linestatus,
           {sql_decimal_sum('l_quantity')} AS sum_qty,
           {sql_decimal_sum('l_extendedprice')} AS sum_base_price,
           {sql_decimal_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_decimal_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY 1, 2
)
SELECT *, sum_qty / count_order AS avg_qty, sum_base_price / count_order AS avg_price
FROM agg
"""


# ------------------------------------------------------------------ Q3-style
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join + agg + total-order top 10.

    customer is small → Catalyst broadcasts it; orders⋈lineitem is the
    one real shuffle. Filters reach the scans (PushedFilters on
    c_mktsegment / o_orderdate / l_shipdate). The ORDER BY carries a
    full tie-break (revenue, o_orderdate, l_orderkey) so the LIMIT is
    deterministic for the oracle hash.
    """
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_decimal_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# ------------------------------------------------------------------ Q5-style
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way star join: revenue by nation where the
    customer and supplier share a nation.

    All dimensions (region/nation/customer/supplier) broadcast; the
    only shuffle joins lineitem⋈orders. At 100 TB the fact-fact join
    would be bucketed on orderkey to avoid even that exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


Q5_SQL = f"""
SELECT r_name, n_name,
       {sql_decimal_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2
"""


# --------------------------------------------------------------- top-k joins
def top_customers_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by lineitem revenue (join + agg + ordered limit)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


TOP_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name,
       {sql_decimal_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ------------------------------------------------------------ join varieties
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having at least one big-quantity line.
    Semi joins ship only the keys — no fact-side row duplication."""
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48).select("l_orderkey")
    return orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


JOIN_SEMI_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
"""


def bloom_semi_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join lineitem to urgent orders through the explicit
    bloom-prefilter operator (operators/bloomjoin.bloom_semi_join):
    the bitset is built distributively from the small side (bit_or
    partials), broadcast as one map row, and tested inside the fact
    scan so non-matching rows never reach the shuffle; the exact
    semi-join afterwards removes false positives, making the result
    bit-identical to a plain semi-join — which is exactly what the
    DuckDB oracle runs."""
    from ..operators.bloomjoin import bloom_semi_join

    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    line = _t(spark, sf_dir, "lineitem")
    return bloom_semi_join(line, "l_orderkey", urgent, "o_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


BLOOM_SEMI_JOIN_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order above 400k."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000).select("o_custkey")
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def join_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + aggregate: every customer with order count
    (0 when none) and coalesced total spend."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(decimal_sum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spend"),
        )
    )


JOIN_OUTER_SQL = f"""
SELECT c_custkey,
       count(o_orderkey) AS n_orders,
       COALESCE({sql_decimal_sum('o_totalprice')}, 0.0) AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1
"""


def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: orders bucketed into price bands via
    lo <= price < hi. The band table is tiny and broadcast, so the
    inequality join is a BroadcastNestedLoopJoin — the right physical
    plan for banding at any scale (never a cartesian shuffle)."""
    bands = spark.createDataFrame(
        [("p0_50k", 0.0, 50_000.0), ("p50_150k", 50_000.0, 150_000.0),
         ("p150_300k", 150_000.0, 300_000.0), ("p300k_up", 300_000.0, 1e9)],
        "band string, lo double, hi double",
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), decimal_sum(F.col("o_totalprice"), "sum_price"))
    )


RANGE_BAND_SQL = f"""
WITH bands(band, lo, hi) AS (
    VALUES ('p0_50k', 0.0, 50000.0), ('p50_150k', 50000.0, 150000.0),
           ('p150_300k', 150000.0, 300000.0), ('p300k_up', 300000.0, 1e9)
)
SELECT band, count(*) AS n_orders, {sql_decimal_sum('o_totalprice')} AS sum_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY 1
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively): for every purchase
    event, the most recent click at-or-before it by the same user.

    Implemented as the scalable union+window pattern: tag both streams,
    one shuffle on user_id, last(click, ignorenulls) over an ordered
    unbounded-preceding frame. No per-key collect, no range blow-up;
    ties broken totally (ts, is_purchase, event_id)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(0).alias("is_p"),
        F.col("event_id").alias("cid"),
        F.lit(None).cast("bigint").alias("pid"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(1).alias("is_p"),
        F.lit(None).cast("bigint").alias("cid"),
        F.col("event_id").alias("pid"),
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", F.coalesce("cid", "pid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_struct = F.when(
        F.col("is_p") == 0, F.struct(F.col("ts").alias("cts"), F.col("cid").alias("ccid"))
    )
    out = unioned.withColumn("lastc", F.last(click_struct, ignorenulls=True).over(w))
    return out.where(F.col("is_p") == 1).select(
        F.col("pid").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("lastc.ccid").alias("click_id"),
        (F.unix_micros("ts") - F.unix_micros("lastc.cts")).alias("delta_us"),
    )


ASOF_JOIN_SQL = """
WITH u AS (
    SELECT user_id, ts, 0 AS is_p, event_id AS cid, NULL::BIGINT AS pid
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, ts, 1, NULL, event_id
    FROM events WHERE event_type = 'purchase'
), w AS (
    SELECT *,
           last_value(CASE WHEN is_p = 0 THEN struct_pack(cts := ts, ccid := cid) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_p, COALESCE(cid, pid)
                     ROWS UNBOUNDED PRECEDING) AS lastc
    FROM u
)
SELECT pid AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
       lastc.ccid AS click_id,
       epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lastc.cts AS TIMESTAMP)) AS delta_us
FROM w WHERE is_p = 1
"""


def asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of join through the cogrouped-pandas surface:
    groupBy(user).cogroup(groupBy(user)).applyInPandas with
    pd.merge_asof per user — the compat path for per-key imperative
    merges (both sides of one key arrive as two pandas frames,
    Arrow-batched). Output and oracle are identical to
    asof_join_events; the union+window twin remains the scale path
    (no per-key materialization)."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )

    def merge(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        left = left.sort_values(["purchase_ts", "purchase_id"])
        if right.empty:
            out = left.assign(click_id=pd.array([None] * len(left), dtype="Int64"),
                              delta_us=pd.array([None] * len(left), dtype="Int64"))
            return out[["purchase_id", "user_id", "purchase_ts", "click_id", "delta_us"]]
        right = right.sort_values(["cts", "click_id"])[["cts", "click_id"]]
        m = pd.merge_asof(left, right, left_on="purchase_ts", right_on="cts", direction="backward")
        delta = (m["purchase_ts"] - m["cts"]).dt.total_seconds().mul(1_000_000).round()
        m["delta_us"] = delta.astype("Int64")
        m["click_id"] = m["click_id"].astype("Int64")
        return m[["purchase_id", "user_id", "purchase_ts", "click_id", "delta_us"]]

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            merge,
            "purchase_id long, user_id long, purchase_ts timestamp, click_id long, delta_us long",
        )
    )


# ------------------------------------------------------------------- windows
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — ranking window with total
    tie-break, the standard top-k-per-group (no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


WINDOW_RANK_SQL = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving average of spend per customer.
    Sums go through DECIMAL inside the frame so segment-tree vs
    sequential evaluation cannot change the doubles."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-2, Window.currentRow)
    price_dec = F.col("o_totalprice").cast(DEC)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec).over(run).cast("double").alias("running_spend"),
        (F.sum(price_dec).over(mov).cast("double") / F.count("*").over(mov)).alias("moving_avg3"),
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
FROM orders
"""


def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: per-user event value delta and next event type."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


WINDOW_LAG_SQL = """
SELECT event_id, user_id,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_value,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events
"""


# ----------------------------------------------------------- grouping extras
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with GROUPING markers."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        decimal_sum(F.col("l_quantity"), "sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {sql_decimal_sum('l_quantity')} AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    return _t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        decimal_sum(F.col("o_totalprice"), "sum_price"),
    )


CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       {sql_decimal_sum('o_totalprice')} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point (spark.sql over
    the parquet.`path` file-source syntax — no view registration):
    per-flag, per-status, and grand-total rows with GROUPING markers."""
    return spark.sql(f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM parquet.`{sf_dir}/lineitem.parquet`
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")


GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {sql_decimal_sum('l_quantity')} AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average)
    gating a fact join, via the SQL API. Catalyst rewrites the
    correlation into an aggregate + join; the per-part avg is exact in
    doubles (small-int quantities), so the filter boundary is
    engine-stable and the output uses the decimal-sum rule."""
    return spark.sql(f"""
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
       count(*) AS n_small
FROM parquet.`{sf_dir}/lineitem.parquet` l
JOIN parquet.`{sf_dir}/part.parquet` p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM parquet.`{sf_dir}/lineitem.parquet` l2
                      WHERE l2.l_partkey = p.p_partkey)
GROUP BY p.p_brand
""")


Q17_SQL = f"""
SELECT p.p_brand,
       {sql_decimal_sum('l.l_extendedprice')} AS sum_price,
       count(*) AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
GROUP BY p.p_brand
"""


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest-style approximate percentile vs the exact one, emitted
    as an accuracy property (same pattern as approx_distinct): the
    sketch value is engine-specific, the bound — approx p50 lands
    between exact p40 and p60 — is not."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("ap50"),
        F.percentile("l_quantity", 0.4).alias("p40"),
        F.round(F.percentile("l_quantity", 0.5), 6).alias("p50_exact"),
        F.percentile("l_quantity", 0.6).alias("p60"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "l_returnflag",
        "p50_exact",
        "n",
        ((F.col("ap50") >= F.col("p40")) & (F.col("ap50") <= F.col("p60"))).alias("within_tol"),
    )


APPROX_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_exact,
       count(*) AS n,
       true AS within_tol
FROM lineitem
GROUP BY 1
"""


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame kernel: RANGE frame over an interval (30-day
    rolling spend per customer), plus first/nth/last value navigation
    with an explicit unbounded frame for last_value (the default frame
    ends at CURRENT ROW — the classic wrong-last_value trap)."""
    return spark.sql(f"""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d,
       first_value(o_orderkey) OVER w AS first_key,
       nth_value(o_orderkey, 2) OVER w AS second_key,
       last_value(o_orderkey) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
FROM parquet.`{sf_dir}/orders.parquet`
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")


WINDOW_FRAMES_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d,
       first_value(o_orderkey) OVER w AS first_key,
       nth_value(o_orderkey, 2) OVER w AS second_key,
       last_value(o_orderkey) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows — ntile quartiles, percent_rank, cume_dist
    over order prices per priority segment. Completes the window-
    function taxonomy beyond ranking/navigation/frames; the doubles
    are ratios of identical integer ranks, rounded at 6 dp for
    cross-engine ulp safety."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): melts the pivoted daily event matrix
    back to (day, event_type, n) — the inverse of pivot_events, and
    the densified long form (explicit zero rows for empty (day, type)
    cells, which the plain groupBy omits)."""
    types = ["click", "error", "purchase", "signup", "view"]
    return pivot_events(spark, sf_dir).unpivot(
        ids=["day"], values=types, variableColumnName="event_type", valueColumnName="n"
    )


UNPIVOT_EVENTS_SQL = """
WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
t(event_type) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT days.day, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM days CROSS JOIN t
LEFT JOIN c ON c.day = days.day AND c.event_type = t.event_type
"""


def null_agg_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate null semantics kernel: count(*) vs count(col)
    (null-skipping), null-skipping SUM/MIN, explicit sum/count average
    (NULLs excluded from the denominator), and null-safe equality
    (<=> / IS NOT DISTINCT FROM) — the corner where engines silently
    disagree; here every behavior is pinned hash-exactly against
    DuckDB. Nulls are injected deterministically (every 7th key)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("val"),
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("val").alias("n_vals"),
            decimal_sum(F.col("val"), "sum_val"),
            F.round(decimal_sum(F.col("val")) / F.count("val"), 6).alias("avg_val"),
            F.sum(F.col("val").eqNullSafe(F.lit(None).cast("double")).cast("int")).alias(
                "n_nulls_nullsafe"
            ),
            F.min("val").alias("min_val"),
        )
        .orderBy("o_orderpriority")
    )


NULL_AGG_SEMANTICS_SQL = f"""
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS val
    FROM orders
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       count(val) AS n_vals,
       {sql_decimal_sum("val")} AS sum_val,
       round({sql_decimal_sum("val")} / count(val), 6) AS avg_val,
       CAST(sum(CASE WHEN val IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls_nullsafe,
       min(val) AS min_val
FROM o GROUP BY o_orderpriority
"""


# ------------------------------------------------------------------- set ops
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one query: high-balance customers
    vs big-spending customers, tagged by which set they land in."""
    rich = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    buyers = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = rich.intersect(buyers).select(F.lit("rich_buyer").alias("tag"), "custkey")
    rich_only = rich.exceptAll(buyers).select(F.lit("rich_only").alias("tag"), "custkey")
    buyer_only = buyers.exceptAll(rich).select(F.lit("buyer_only").alias("tag"), "custkey")
    return both.unionByName(rich_only).unionByName(buyer_only)


SET_OPS_SQL = """
WITH rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000),
     buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000)
SELECT 'rich_buyer' AS tag, custkey FROM (SELECT custkey FROM rich INTERSECT SELECT custkey FROM buyers)
UNION ALL
SELECT 'rich_only', custkey FROM (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers)
UNION ALL
SELECT 'buyer_only', custkey FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM rich)
"""


# ---------------------------------------------------------------- aggregates
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per group (expand + two-phase agg)."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
    )


DISTINCT_AGG_SQL = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
FROM orders
GROUP BY 1
"""


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct per group. The HLL sketch
    value itself is engine-specific (DuckDB uses a different sketch),
    so the query emits the *accuracy property* instead of the raw
    estimate: `within_tol` = |approx − exact| / exact ≤ 3·rsd. The
    DuckDB oracle computes the exact side and emits the same boolean,
    making the check hash-exact while still failing if the sketch ever
    drifts out of its error envelope. tests/test_relational_props.py
    covers the raw-estimate variant."""
    agg = _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "n",
        (F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts") <= 0.06).alias(
            "within_tol"
        ),
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(*) AS n,
       true AS within_tol
FROM lineitem
GROUP BY 1
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group; both
    engines define percentile_cont identically on a sorted array."""
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), 6).alias("p90_qty"),
        F.count("*").alias("n"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       count(*) AS n
FROM lineitem
GROUP BY 1
"""


def holistic_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic full-group reduce through applyInPandas — the
    idiomatic twin of the reference's reduce contract (the whole value
    list for one key in one call, mr/worker.go:164-177), Arrow-batched
    instead of row-pickled. Each group computes order-insensitive
    statistics (numpy quantiles over the sorted group) so shuffle
    order cannot matter; np.percentile's linear interpolation is
    DuckDB's quantile_cont."""
    import pandas as pd

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        q = pdf["l_quantity"].to_numpy()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "iqr_qty": [round(float(np.percentile(q, 75) - np.percentile(q, 25)), 6)],
                "mid_qty": [round(float(np.percentile(q, 50)), 6)],
                "n": [len(q)],
            }
        )

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return li.groupBy("l_returnflag").applyInPandas(
        stats, "l_returnflag string, iqr_qty double, mid_qty double, n long"
    )


HOLISTIC_PANDAS_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 6) AS iqr_qty,
       round(quantile_cont(l_quantity, 0.5), 6) AS mid_qty,
       count(*) AS n
FROM lineitem
GROUP BY 1
"""


def udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate via pandas_udf GROUPED_AGG — the third
    face of the UDF surface (UDTF = udtf_tokenize, grouped-map =
    holistic_pandas_agg, UDAF = this): the whole group's values arrive
    as one pandas Series inside groupBy().agg(), Arrow-batched. The
    statistic (interpolated median) is order-insensitive, so shuffle
    order cannot perturb it, and np.percentile matches DuckDB's
    quantile_cont exactly."""
    import pandas  # noqa: F401 — annotations resolve via get_type_hints

    from pyspark.sql.functions import pandas_udf

    # NB: annotations must be real types, not strings — this module has
    # `from __future__ import annotations`, and pandas_udf resolves the
    # signature through the function's globals
    def median_qty(v):
        import numpy as np

        return round(float(np.percentile(v.to_numpy(), 50)), 6)

    median_qty.__annotations__ = {"v": pandas.Series, "return": float}
    median_qty = pandas_udf(median_qty, "double")

    # pandas UDAFs can't mix with JVM aggregates in one agg() — the
    # count rides along as a second pandas UDAF
    def group_n(v):
        return len(v)

    group_n.__annotations__ = {"v": pandas.Series, "return": int}
    group_n = pandas_udf(group_n, "long")

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        median_qty("l_quantity").alias("med_qty"), group_n("l_quantity").alias("n")
    )


UDAF_MEDIAN_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
       count(*) AS n
FROM lineitem
GROUP BY 1
"""


def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's user-map as a Python UDTF (arrow-optimized table function:
    one input row → n output rows), the modern face of the reference's
    Map plugin. Counting its output against the wordcount oracle
    proves the UDTF path computes exactly what the codegen explode
    path computes — it is the *compat* surface; the explode twin is
    the fast path."""
    from pyspark.sql.functions import udtf

    from ..functions.text import py_letter_tokens

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):
            # category-L runs — identical to the \p{L} explode path on
            # ALL inputs (Python \w-classes would admit Nl/No chars)
            for w in py_letter_tokens(text):
                yield (w,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.word, count(*) AS cnt "
        "FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t "
        "GROUP BY t.word"
    )


def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS correlated subqueries at the SQL level —
    Catalyst rewrites them to semi/anti joins (the DataFrame-API twins
    are join_semi/join_anti); customers split by whether they have any
    urgent order."""
    return spark.sql(f"""
SELECT c.c_custkey,
       CASE WHEN EXISTS (SELECT 1 FROM parquet.`{sf_dir}/orders.parquet` o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
            THEN 'has_urgent' ELSE 'no_urgent' END AS bucket
FROM parquet.`{sf_dir}/customer.parquet` c
""")


EXISTS_SUBQUERY_SQL = """
SELECT c.c_custkey,
       CASE WHEN EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
            THEN 'has_urgent' ELSE 'no_urgent' END AS bucket
FROM customer c
"""


def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / null-handling kernel: CASE, coalesce, nullif,
    nvl2-shape, least/greatest, isnull — projection-only."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 5000, "high")
        .when(F.col("c_acctbal") > 0, "mid")
        .otherwise("low")
        .alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("-")).alias(
            "seg_or_dash"
        ),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("capped"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("floored"),
        F.isnull(F.nullif(F.col("c_nationkey"), F.lit(0))).alias("is_nation0"),
    )


SCALAR_CONDITIONAL_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal > 5000 THEN 'high'
            WHEN c_acctbal > 0 THEN 'mid'
            ELSE 'low' END AS bal_band,
       coalesce(nullif(c_mktsegment, 'MACHINERY'), '-') AS seg_or_dash,
       least(c_acctbal, 1000.0) AS capped,
       greatest(c_acctbal, 0.0) AS floored,
       (nullif(c_nationkey, 0) IS NULL) AS is_nation0
FROM customer
"""


def _struct_bit_kernel_cols() -> list:
    s = F.struct(F.col("p_brand").alias("brand"), F.col("p_size").alias("size"))
    return [
        s.getField("brand").alias("s_brand"),
        F.to_json(s).alias("s_json"),
        (F.col("p_partkey").bitwiseAND(F.lit(255))).alias("low_byte"),
        (F.col("p_partkey").bitwiseOR(F.lit(1))).alias("odd_or"),
        (F.col("p_partkey").bitwiseXOR(F.col("p_size"))).alias("xor_size"),
        F.expr("shiftleft(p_size, 2)").alias("size_x4"),
        F.expr("bit_count(p_partkey)").alias("key_bits"),
    ]


_STRUCT_BIT_KERNEL_EXPRS_SQL = """p_brand AS s_brand,
       '{"brand":"' || p_brand || '","size":' || CAST(p_size AS VARCHAR) || '}' AS s_json,
       p_partkey & 255 AS low_byte,
       p_partkey | 1 AS odd_or,
       xor(p_partkey, p_size) AS xor_size,
       CAST(p_size * 4 AS INTEGER) AS size_x4,
       CAST(bit_count(p_partkey) AS INTEGER) AS key_bits"""


def scalar_struct_bit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction/field-access round-tripped through to_json,
    plus the bitwise kernel (&, |, ^, shifts, bit_count) — all
    projection-only codegen."""
    return _t(spark, sf_dir, "part").select("p_partkey", *_struct_bit_kernel_cols())


SCALAR_STRUCT_BIT_SQL = f"""
SELECT p_partkey,
       {_STRUCT_BIT_KERNEL_EXPRS_SQL}
FROM part
"""


# ------------------------------------------------------------- scalar kernels
# Each part-table kernel is built from a column-list helper so the
# consolidated driver query (scalar_part_kernels) is one genuinely
# wide projection over a single scan — not a self-join of the
# granular kernels. The SQL twins compose the same way.
def _string_kernel_cols() -> list:
    return [
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 8).alias("prefix8"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.expr("split_part(p_name, ' ', 1)").alias("first_token"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
    ]


_STRING_KERNEL_EXPRS_SQL = """upper(p_name) AS uname,
       substring(p_name, 1, 8) AS prefix8,
       CAST(length(p_name) AS INTEGER) AS name_len,
       concat_ws('-', p_brand, p_type) AS brand_type,
       replace(p_type, ' ', '_') AS type_snake,
       split_part(p_name, ' ', 1) AS first_token,
       lpad(p_brand, 12, '*') AS brand_pad,
       reverse(p_brand) AS brand_rev,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels"""


def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function kernel over part (projection-only; no shuffle)."""
    return _t(spark, sf_dir, "part").select("p_partkey", *_string_kernel_cols())


SCALAR_STRING_SQL = f"""
SELECT p_partkey,
       {_STRING_KERNEL_EXPRS_SQL}
FROM part
"""


def scalar_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime-function kernel over orders."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_add(F.col("o_orderdate"), 30).alias("plus30"),
    )


SCALAR_DATETIME_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate AS DATE) + 30 AS plus30
FROM orders
"""


def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function kernel over lineitem (per-row IEEE double ops —
    deterministic across engines; no transcendental libm calls)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net4"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("gmax"),
        F.least(F.col("l_quantity"), F.col("l_tax") * 100).alias("lmin"),
    )


SCALAR_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net4,
       sqrt(l_extendedprice) AS price_sqrt,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       abs(l_discount - 0.05) AS disc_dev,
       l_orderkey % 7 AS mod7,
       greatest(l_quantity, l_discount * 100) AS gmax,
       least(l_quantity, l_tax * 100) AS lmin
FROM lineitem
"""


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function kernel over embeddings: size/index/slice and a
    sequential-fold L2 norm (bitwise-reproducible, see functions/vectors).

    The slice output is serialized to a CSV string (each element via
    DECIMAL(16,6) so both engines print the identical text) — the
    driver's hash comparison canonicalizes rows through pandas, which
    cannot sort raw list values."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return e.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.round(F.col("v")[0], 6).alias("first_val"),
        F.round(
            F.sqrt(F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x)")), 6
        ).alias("l2_norm"),
        F.concat_ws(
            ",",
            F.expr("transform(slice(v, 1, 3), x -> cast(cast(round(x, 6) as decimal(16,6)) as string))"),
        ).alias("head3_csv"),
    )


ARRAY_FUNCS_SQL = """
WITH e AS (SELECT vec_id, [x::DOUBLE FOR x IN embedding] AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS INTEGER) AS n_dims,
       round(v[1], 6) AS first_val,
       round(sqrt(list_reduce(list_prepend(0.0, [x * x FOR x IN v]), (acc, x) -> acc + x)), 6) AS l2_norm,
       array_to_string([CAST(CAST(round(x, 6) AS DECIMAL(16,6)) AS VARCHAR) FOR x IN v[1:3]], ',') AS head3_csv
FROM e
"""


def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props + aggregation of the value."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )
    return ev.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.count(F.when(F.col("k") > 50, 1)).alias("n_big"),
        F.count("*").alias("n"),
    )


JSON_FUNCS_SQL = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50 THEN 1 END) AS n_big,
       count(*) AS n
FROM events
GROUP BY 1
"""


def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function kernel over part: construction (create_map),
    lookup (element_at), introspection (map_keys/map_values/size/
    map_entries), merge (map_concat), and the map higher-order
    functions (transform_values, map_filter, map_zip_with).

    Projection-only — no shuffle; the DuckDB oracle derives the same
    outputs straight from the base columns (map layout is
    engine-internal; the *values* are the contract)."""
    return _t(spark, sf_dir, "part").select("p_partkey", *_map_kernel_cols())


def _map_kernel_cols() -> list:
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    mv = F.create_map(
        F.lit("retail"), F.col("p_retailprice").cast("double"),
        F.lit("size"), F.col("p_size").cast("double"),
    )
    return [
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.concat_ws(",", F.map_values(m)).alias("vals_csv"),
        F.element_at(m, F.lit("brand")).alias("brand_val"),
        F.size(m).alias("m_size"),
        F.element_at(
            F.map_concat(m, F.create_map(F.lit("extra"), F.lit("x"))), F.lit("extra")
        ).alias("extra_val"),
        F.round(
            F.element_at(F.transform_values(mv, lambda k, v: v * 2), F.lit("retail")), 6
        ).alias("retail_x2"),
        F.size(F.map_filter(mv, lambda k, v: v > 10)).alias("n_big"),
        F.concat_ws(
            ";",
            F.transform(
                F.map_entries(m), lambda e: F.concat_ws("=", e["key"], e["value"])
            ),
        ).alias("entries_csv"),
        F.round(
            F.element_at(F.map_zip_with(mv, mv, lambda k, a, b: a + b), F.lit("size")), 6
        ).alias("size_sum"),
    ]


_MAP_KERNEL_EXPRS_SQL = """'brand,type' AS keys_csv,
       p_brand || ',' || p_type AS vals_csv,
       p_brand AS brand_val,
       CAST(2 AS INTEGER) AS m_size,
       'x' AS extra_val,
       round(CAST(p_retailprice AS DOUBLE) * 2, 6) AS retail_x2,
       CAST((CASE WHEN p_retailprice > 10 THEN 1 ELSE 0 END)
            + (CASE WHEN p_size > 10 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
       'brand=' || p_brand || ';type=' || p_type AS entries_csv,
       round(CAST(p_size AS DOUBLE) * 2, 6) AS size_sum"""


MAP_FUNCS_SQL = f"""
SELECT p_partkey,
       {_MAP_KERNEL_EXPRS_SQL}
FROM part
"""


def scalar_part_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated driver entry for the three part-table kernels
    (string, struct+bitwise, map) — one wide projection over a single
    part scan, so the driver verifies all three function families in
    one CORRECTNESS row without a self-join. The granular kernels
    (scalar_string_funcs / scalar_struct_bit_funcs / map_funcs) remain
    the product surface and keep their own pytest parity rows via
    EXTRA_QUERIES."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        *_string_kernel_cols(),
        *_struct_bit_kernel_cols(),
        *_map_kernel_cols(),
    )


SCALAR_PART_KERNELS_SQL = f"""
SELECT p_partkey,
       {_STRING_KERNEL_EXPRS_SQL},
       {_STRUCT_BIT_KERNEL_EXPRS_SQL},
       {_MAP_KERNEL_EXPRS_SQL}
FROM part
"""


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts, one column per event type."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    )
    return ev.groupBy("day").pivot("event_type", types).count().na.fill(0, types)


# NB: every SUM is wrapped in CAST(... AS BIGINT) — DuckDB's SUM(int)
# returns HUGEINT (int128), which the driver's pandas canonicalization
# hashes differently from Spark's bigint even when values are identical
# (same rule as JSON_FUNCS_SQL above).
PIVOT_EVENTS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
"""


# ------------------------------------------------- consolidated driver rows
# The driver's CORRECTNESS window holds 50 entries; these combined
# queries keep every operator family inside it. Each union/join below
# re-executes the full granular plans (same operators, same shuffles)
# — nothing is mocked — while the granular twins stay pytest-verified
# through EXTRA_QUERIES.
def grouping_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS in one driver row, tagged by
    variant and harmonized to (k1, k2, n, sum_val, g1, g2). CUBE's
    grouping markers are derived from key-nullability (the TPC-H keys
    are never null, so NULL ⇔ subtotal row)."""
    r = rollup_agg(spark, sf_dir).select(
        F.lit("rollup").alias("variant"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "n",
        F.col("sum_qty").alias("sum_val"),
        F.col("g_flag").alias("g1"),
        F.col("g_status").alias("g2"),
    )
    g = grouping_sets_agg(spark, sf_dir).select(
        F.lit("grouping_sets").alias("variant"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "n",
        F.col("sum_qty").alias("sum_val"),
        F.col("g_flag").alias("g1"),
        F.col("g_status").alias("g2"),
    )
    c = cube_agg(spark, sf_dir).select(
        F.lit("cube").alias("variant"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        "n",
        F.col("sum_price").alias("sum_val"),
        F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0).alias("g1"),
        F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0).alias("g2"),
    )
    return r.unionByName(g).unionByName(c)


GROUPING_VARIANTS_SQL = f"""
SELECT 'rollup' AS variant, l_returnflag AS k1, l_linestatus AS k2,
       n, sum_qty AS sum_val, g_flag AS g1, g_status AS g2
FROM ({ROLLUP_SQL})
UNION ALL
SELECT 'grouping_sets', l_returnflag, l_linestatus, n, sum_qty, g_flag, g_status
FROM ({GROUPING_SETS_SQL})
UNION ALL
SELECT 'cube', o_orderstatus, o_orderpriority, n, sum_price,
       CAST(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END AS INTEGER),
       CAST(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS INTEGER)
FROM ({CUBE_SQL})
"""


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins in one driver row, tagged by
    variant; the unused attribute of each branch is NULL-typed."""
    s = join_semi(spark, sf_dir).select(
        F.lit("semi").alias("variant"),
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.lit(None).cast("string").alias("segment"),
    )
    a = join_anti(spark, sf_dir).select(
        F.lit("anti").alias("variant"),
        F.col("c_custkey").alias("key"),
        F.lit(None).cast("double").alias("price"),
        F.col("c_mktsegment").alias("segment"),
    )
    return s.unionByName(a)


JOIN_SEMI_ANTI_SQL = f"""
SELECT 'semi' AS variant, o_orderkey AS key, o_totalprice AS price,
       CAST(NULL AS VARCHAR) AS segment
FROM ({JOIN_SEMI_SQL})
UNION ALL
SELECT 'anti', c_custkey, CAST(NULL AS DOUBLE), c_mktsegment
FROM ({JOIN_ANTI_SQL})
"""


def percentile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles joined with the approximate-percentile
    accuracy property (within_tol from the t-digest sketch) — one
    driver row for both the holistic and approximate aggregates."""
    exact = percentiles(spark, sf_dir)
    approx = approx_percentiles(spark, sf_dir).select("l_returnflag", "within_tol")
    return exact.join(approx, "l_returnflag")


PERCENTILE_SUITE_SQL = f"""
SELECT l_returnflag, p50_qty, p90_qty, n, true AS within_tol
FROM ({PERCENTILES_SQL})
"""


def distinct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count_distinct and the HyperLogLog++ accuracy property in
    one driver row, harmonized to (variant, gkey, n_distinct, n_rows,
    within_tol)."""
    d = distinct_agg(spark, sf_dir).select(
        F.lit("exact_custkeys").alias("variant"),
        F.col("o_orderpriority").alias("gkey"),
        F.col("n_cust").alias("n_distinct"),
        F.col("n_orders").alias("n_rows"),
        F.lit(True).alias("within_tol"),
    )
    a = approx_distinct(spark, sf_dir).select(
        F.lit("approx_partkeys").alias("variant"),
        F.col("l_returnflag").alias("gkey"),
        F.col("exact_parts").alias("n_distinct"),
        F.col("n").alias("n_rows"),
        "within_tol",
    )
    return d.unionByName(a)


DISTINCT_SUITE_SQL = f"""
SELECT 'exact_custkeys' AS variant, o_orderpriority AS gkey,
       n_cust AS n_distinct, n_orders AS n_rows, true AS within_tol
FROM ({DISTINCT_AGG_SQL})
UNION ALL
SELECT 'approx_partkeys', l_returnflag, exact_parts, n, within_tol
FROM ({APPROX_DISTINCT_SQL})
"""


# ------------------------------------------------------------------ CDC
def _query_scratch(name: str) -> str:
    """Per-process scratch directory for queries that materialize a
    manifest table (cdc_merge_orders_manifest & friends): ONE root per
    process, removed at interpreter exit, and the per-query subdir is
    CLEARED on each invocation — so bench/parity loops that call a
    query many times reuse one table-sized footprint instead of
    leaking a fresh mkdtemp per call (ADVICE r10). The result
    DataFrame is lazy, so the directory must outlive the call — it
    does: only the NEXT invocation of the SAME query clears it."""
    import atexit
    import shutil as _sh
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(_sh.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    path = os.path.join(_SCRATCH_ROOT, name)
    _sh.rmtree(path, ignore_errors=True)
    return path


_SCRATCH_ROOT: str | None = None


def _cdc_orders_feed(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The deterministic (snapshot, changelog) CDC fixture shared by
    cdc_merge_orders and ivm_orders_revenue: base = orders outside
    the %7 insert slice; changelog = updates (%3 of existing keys:
    new status, bumped price, seq 1), inserts (the held-out %7 slice,
    seq 1), and deletes (%5, seq 2 — outranking a same-key update, so
    a key in both slices resolves to delete: exactly the
    binlog-position semantics of cdc.latest_changes)."""
    k = F.col("o_orderkey")
    base = orders.filter(k % 7 != 0)
    upd = orders.filter((k % 3 == 0) & (k % 7 != 0)).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    ins = orders.filter(k % 7 == 0).select(
        *orders.columns, F.lit("U").alias("op"), F.lit(1).alias("seq")
    )
    dels = orders.filter(k % 5 == 0).select(
        "o_orderkey",
        *[
            F.lit(None).cast(orders.schema[c].dataType).alias(c)
            for c in orders.columns
            if c != "o_orderkey"
        ],
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    return base, upd.unionByName(ins).unionByName(dels)


def cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a deterministic CDC changelog into the orders snapshot
    (operators/cdc.cdc_merge; fixture in _cdc_orders_feed). The
    snapshot is touched by ONE left-anti join; conflict resolution is
    a map-side-combinable max_by over the changelog only."""
    from ..operators import cdc

    base, changes = _cdc_orders_feed(load_table(spark, sf_dir, "orders"))
    return cdc.cdc_merge(base, changes, ["o_orderkey"], op_col="op", seq_col="seq")


def cdc_merge_orders_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc_merge_orders applied through the versioned-manifest table
    format (sources/manifest.py) instead of a logical DataFrame merge:
    the snapshot is seeded as a manifest table, the SAME deterministic
    changelog is merged transactionally (only changelog-touched
    key-buckets are rewritten, one atomic manifest-rename commit), and
    the committed snapshot is read back. Sharing CDC_MERGE_SQL as the
    oracle makes the hash row the claim that the transactional path is
    ROW-IDENTICAL to the logical merge — the storage layer adds
    durability semantics, never different answers. The table lives in
    a per-process scratch subdir cleared on each re-invocation (the
    read is lazy, so the directory outlives the call; see
    _query_scratch)."""
    from ..sources import manifest as mf

    base, changes = _cdc_orders_feed(load_table(spark, sf_dir, "orders"))
    path = _query_scratch("cdc_merge_orders_manifest")
    mf.create_table(base, path, ["o_orderkey"])
    mf.merge_into(spark, path, changes, op_col="op", seq_col="seq")
    return mf.read_table(spark, path)


def cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table format's CHANGE DATA FEED as a query
    (sources/manifest.read_changes): seed the orders snapshot as a
    manifest table (v1), merge the shared deterministic CDC changelog,
    and emit the row-level diff between v1 and the version the merge
    committed — op 'U' rows are the merged version's new images
    (inserts and updated rows), op 'D' rows are v1 images whose keys
    disappeared (an empty changelog commits no version, so the feed
    from v1 to v1 is empty). The oracle recomputes the same diff
    set-theoretically in DuckDB
    (merged EXCEPT ALL base + an anti-join for deletes), so the hash
    row proves the bucket-bounded physical diff (only buckets whose
    directory lists differ between the manifests are read) equals the
    logical definition; tests/test_manifest.py additionally pins that
    cdc_merge-applying the feed onto v1 reconstructs v2 exactly."""
    from ..sources import manifest as mf

    base, changes = _cdc_orders_feed(load_table(spark, sf_dir, "orders"))
    path = _query_scratch("cdc_change_feed")
    mf.create_table(base, path, ["o_orderkey"])
    merged = mf.merge_into(spark, path, changes, op_col="op", seq_col="seq")
    return mf.read_changes(spark, path, 1, merged["version"])


CDC_CHANGE_FEED_SQL = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
changes AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
           'U' AS op, 1 AS seq
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, 'U', 1
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, NULL, NULL, NULL, NULL, NULL, 'D', 2
    FROM orders WHERE o_orderkey % 5 = 0
),
latest AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM changes
    ) WHERE rn = 1
),
merged AS MATERIALIZED (
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority
    FROM latest WHERE op <> 'D'
),
ups AS (SELECT * FROM merged EXCEPT ALL SELECT * FROM base)
SELECT *, 'U' AS op FROM ups
UNION ALL
SELECT b.*, 'D' AS op FROM base b
WHERE NOT EXISTS (SELECT 1 FROM merged m WHERE m.o_orderkey = b.o_orderkey)
"""


def cdc_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-table SCHEMA EVOLUTION as a query (sources/manifest
    .evolve_schema, VERDICT r10 item 1): the orders snapshot is seeded
    with o_totalprice stored as FLOAT, then a key-local changelog
    (keys with o_orderkey % 8 < 3 — buckets 0-2 of the pmod-8 layout,
    so buckets 3-7 keep their PRE-evolution files) is merged that both
    ADDS a column (o_margin DOUBLE) and WIDENS o_totalprice to DOUBLE.
    The read back at the evolved version crosses the boundary:
    untouched buckets' old files project to the evolved schema (typed
    NULL margins, float values up-cast bit-exactly by the parquet
    reader's widening promotion — no rewrite of committed data), and
    the oracle recomputes the same merge + projection logically in
    DuckDB, so the hash row proves evolution never changes answers.
    Unsafe changes (narrowing, key-type flips) raise instead —
    test-pinned in tests/test_manifest.py."""
    from ..sources import manifest as mf

    orders = load_table(spark, sf_dir, "orders")
    base = orders.withColumn("o_totalprice", F.col("o_totalprice").cast("float"))
    k = F.col("o_orderkey")
    changes = orders.where(k % 8 < 3).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_totalprice") * 0.05).alias("o_margin"),
        F.when(k % 5 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    path = _query_scratch("cdc_merge_schema_evolution")
    mf.create_table(base, path, ["o_orderkey"], partition_expr="pmod(o_orderkey, 8)")
    mf.merge_into(spark, path, changes, op_col="op", seq_col=None)
    return mf.read_table(spark, path)


CDC_SCHEMA_EVOLUTION_SQL = """
WITH changed AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice,
           o_orderdate, o_orderpriority,
           o_totalprice * 0.05 AS o_margin,
           CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
    FROM orders WHERE o_orderkey % 8 < 3
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
       o_orderdate, o_orderpriority,
       CAST(NULL AS DOUBLE) AS o_margin
FROM orders WHERE o_orderkey % 8 >= 3
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, o_margin
FROM changed WHERE op = 'U'
"""


def manifest_delete_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE through the manifest format (sources/manifest
    .delete_from, VERDICT r10 item 3): orders is seeded as a key-range
    manifest table, then two deletes run — a BETWEEN on the key (prunes
    through bucket replay + min/max stats to exactly the overlapping
    key-range directories; both shapes are the r11 pruning extensions)
    and a status+range conjunction (stats-pruned, row-filtered). The
    read back at the final version must equal DuckDB's logical
    double-DELETE — including SQL NULL-predicate keep semantics —
    proving copy-on-write deletion at directory granularity never
    changes answers. Untouched-directory byte-identity and the 1-row
    write-amplification measurement are pinned in
    tests/test_manifest.py; deletion vectors are the documented
    production form for small scattered deletes."""
    from ..sources import manifest as mf

    orders = load_table(spark, sf_dir, "orders")
    path = _query_scratch("manifest_delete_from")
    mf.create_table(
        orders, path, ["o_orderkey"], partition_expr="floor(o_orderkey / 1024)"
    )
    mf.delete_from(spark, path, "o_orderkey between 2048 and 3071")
    mf.delete_from(spark, path, "o_orderstatus = 'F' and o_orderkey < 1024")
    return mf.read_table(spark, path)


MANIFEST_DELETE_SQL = """
SELECT * FROM orders
WHERE NOT (o_orderkey BETWEEN 2048 AND 3071)
  AND NOT (o_orderstatus = 'F' AND o_orderkey < 1024)
"""


def manifest_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """manifest_delete_from in DELETION-VECTOR mode (VERDICT r10 item
    3's named production form; the Delta / Iceberg-v3 design): the
    same two deletes are committed as (relative file path, parquet
    row index) tombstones — zero data files touched, write
    amplification = the tombstones themselves — and the read merges
    them back with one broadcast anti join. Sharing
    MANIFEST_DELETE_SQL with the copy-on-write face makes the hash
    row the claim that the two deletion strategies are
    answer-identical; tests additionally pin that DV deletes leave
    every data directory byte-identical, that merges/compaction fold
    and clear tombstones, and that duplicate-key rows delete
    individually (row-position identity, which key-based tombstones
    could not guarantee)."""
    from ..sources import manifest as mf

    orders = load_table(spark, sf_dir, "orders")
    path = _query_scratch("manifest_delete_dv")
    mf.create_table(
        orders, path, ["o_orderkey"], partition_expr="floor(o_orderkey / 1024)"
    )
    mf.delete_from(spark, path, "o_orderkey between 2048 and 3071", mode="dv")
    mf.delete_from(spark, path, "o_orderstatus = 'F' and o_orderkey < 1024", mode="dv")
    return mf.read_table(spark, path)


def manifest_native_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a manifest table through the NATIVE batch DataSource —
    ``spark.read.format("manifest")`` (sources/manifest_source.py) —
    instead of ``read_table``: orders is seeded under the DEFAULT
    ``pmod(xxhash64(key), n)`` layout, a scattered slice is deleted as
    deletion-vector tombstones, and the scan carries a key-IN + value
    predicate. The IN-list resolves to candidate buckets JVM-FREE
    (planning runs in a Python DataSource worker with no SparkSession;
    sources/spark_hash.py replays Spark's xxhash64 exactly —
    property-pinned), the predicate is re-applied row-wise by
    ``scan``'s contract, and the DV tombstones drop inside the Arrow
    reader. The DuckDB oracle recomputes the delete + filter
    logically, so the hash row claims the whole native read path —
    pure-Python bucket replay, stats pruning, per-file Arrow
    projection, DV anti-filter — is row-identical to SQL semantics.
    The surviving buckets pack by bytes into input partitions
    (Spark's ``FilePartition`` rule), so this small read is one task
    that drops the tombstones of every bucket it scans. The scanned
    bucket/dir sets, the packing and relation-reuse safety are pinned
    in tests/test_manifest_source.py (filter-pushdown-based pruning is
    structurally unsafe on Spark 4.1 — see the module docstring's
    readInfo-cache analysis — so pruning derives from the reader's
    own predicate option)."""
    from ..sources import manifest as mf
    from ..sources.manifest_source import scan

    orders = load_table(spark, sf_dir, "orders")
    path = _query_scratch("manifest_native_scan")
    mf.create_table(orders, path, ["o_orderkey"])
    mf.delete_from(spark, path, "o_orderkey % 10 = 0", mode="dv")
    keys = ", ".join(str(97 * i) for i in range(1, 33))
    return scan(
        spark, path, predicate=f"o_orderkey in ({keys}) and o_totalprice > 1000"
    )


MANIFEST_NATIVE_SCAN_SQL = """
SELECT * FROM orders
WHERE o_orderkey % 10 <> 0
  AND o_orderkey IN ({keys})
  AND o_totalprice > 1000
""".format(keys=", ".join(str(97 * i) for i in range(1, 33)))


def manifest_repartition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION as a query (manifest.repartition_table):
    orders is seeded HASH-bucketed, a scattered slice is deleted as
    deletion-vector tombstones, then the table is repartitioned to a
    key-RANGE layout — one atomic rewrite-and-publish that folds the
    DVs and swaps buckets+stats+expression together — and read back
    through a range predicate that the NEW layout prunes to one
    directory span (the old hash layout spread every key range across
    all buckets). The DuckDB oracle recomputes delete+filter logically,
    so the hash row claims layout evolution never changes answers;
    dir-count improvement, CDF-empty-across-boundary, DV folding, and
    the stale-layout sink guard are pinned in tests/test_manifest.py."""
    from ..sources import manifest as mf

    orders = load_table(spark, sf_dir, "orders")
    path = _query_scratch("manifest_repartition_scan")
    mf.create_table(orders, path, ["o_orderkey"])  # hash layout
    mf.delete_from(spark, path, "o_orderkey % 10 = 0", mode="dv")
    mf.repartition_table(spark, path, partition_expr="floor(o_orderkey / 1024)")
    return mf.read_table(spark, path, predicate="o_orderkey between 2048 and 4095")


MANIFEST_REPARTITION_SQL = """
SELECT * FROM orders
WHERE o_orderkey % 10 <> 0
  AND o_orderkey BETWEEN 2048 AND 4095
"""


def ivm_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): a per-customer
    (n_rows, revenue) view of the orders snapshot is materialized
    once, then kept current under the SAME CDC changelog
    cdc_merge_orders applies — by delta retraction/assertion, never
    by rescanning the merged facts. The changelog's inserts, updates
    and conflict-outranked deletes all flow through one old-image
    key join + delta-sized aggregates; DECIMAL-carried sums make the
    incremental result EXACTLY recomputation, which is what the
    oracle does (DuckDB re-aggregates the merged snapshot) — the
    driver hash is the maintenance-correctness proof. avg_price is
    the derived-measure face (sum/count at publish time)."""
    from ..operators import ivm

    base, changes = _cdc_orders_feed(load_table(spark, sf_dir, "orders"))
    group, measures = ["o_custkey"], {"revenue": "o_totalprice"}
    view = ivm.build_view(base, group, measures)
    deltas = ivm.delta_view(
        base, changes, ["o_orderkey"], group, measures, op_col="op", seq_col="seq"
    )
    out = ivm.finalize(ivm.merge_deltas(view, deltas, group), group)
    return out.select(
        "o_custkey",
        F.col("n_rows").alias("n_orders"),
        "revenue",
        (F.round(F.col("revenue") / F.col("n_rows") * 100.0) / 100.0).alias("avg_price"),
    )


def group_atomic_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table ATOMIC commit (sources/table_group.py — VERDICT r12
    item 7): facts and their materialized view are two first-class
    manifest tables under ONE commit log; the same CDC changelog
    ivm_orders_revenue maintains flows through ``group_transact`` —
    facts merged (touched buckets only), view replaced — landing in
    ONE put-if-absent publish, so a crash anywhere leaves the PAIR at
    the previous version together (crash-injection-pinned in
    tests/test_table_group.py). The returned frame is the view read
    BACK through ``read_group_table`` (the member read path: synthetic
    member manifest + the standard pruning brain), so the driver hash
    verifies the whole group round-trip; the oracle recomputes the
    aggregate over the merged snapshot in DuckDB — maintained view ==
    recomputation, exactly ivm_orders_revenue's claim, now with the
    atomic two-table commit in the loop."""
    from ..operators import ivm
    from ..sources import table_group as tg

    base, changes = _cdc_orders_feed(load_table(spark, sf_dir, "orders"))
    group, measures = ["o_custkey"], {"revenue": "o_totalprice"}
    path = _query_scratch("group_atomic_ivm")
    tg.create_group(
        spark, path,
        {
            "facts": {"df": base, "key_cols": ["o_orderkey"], "n_buckets": 8},
            "view": {
                "df": ivm.build_view(base, group, measures),
                "key_cols": group, "n_buckets": 4,
            },
        },
    )
    # replace THUNK (ADVICE r13): the view image derives from the group
    # snapshot version each commit attempt lands on, not a pre-pinned plan
    def _fresh_view(s, root, version):
        snap = tg.read_group_table(s, root, "facts", version=version)
        view = tg.read_group_table(s, root, "view", version=version)
        deltas = ivm.delta_view(
            snap, changes, ["o_orderkey"], group, measures,
            op_col="op", seq_col="seq",
        )
        return ivm.merge_deltas(view, deltas, group)

    tg.group_transact(
        spark, path, merges={"facts": changes}, replaces={"view": _fresh_view}
    )
    out = ivm.finalize(tg.read_group_table(spark, path, "view"), group)
    return out.select(
        "o_custkey",
        F.col("n_rows").alias("n_orders"),
        "revenue",
        (F.round(F.col("revenue") / F.col("n_rows") * 100.0) / 100.0).alias("avg_price"),
    )


IVM_ORDERS_SQL = """
WITH merged AS (
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
    changes AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
               'U' AS op, 1 AS seq
        FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority, 'U', 1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, NULL, NULL, NULL, NULL, NULL, 'D', 2
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    latest AS (
        SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
            FROM changes
        ) WHERE rn = 1
    )
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM latest WHERE op <> 'D'
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 100.0) / 100.0
           AS avg_price
FROM merged
GROUP BY o_custkey
"""


# maintained view == recomputation over the merged snapshot — the
# SAME oracle as ivm_orders_revenue; what group_atomic_ivm adds on the
# Spark side is the atomic two-table commit + member read round-trip.
GROUP_ATOMIC_IVM_SQL = IVM_ORDERS_SQL


CDC_MERGE_SQL = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
changes AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
           'U' AS op, 1 AS seq
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, 'U', 1
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, NULL, NULL, NULL, NULL, NULL, 'D', 2
    FROM orders WHERE o_orderkey % 5 = 0
),
latest AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM changes
    ) WHERE rn = 1
)
SELECT b.* FROM base b
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM latest WHERE op <> 'D'
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/cdc.scd2_history):
    each user's event stream becomes validity intervals — valid_from
    = the change's own timestamp, valid_to = the key's next change
    (NULL = current version), with a per-key version ordinal. One
    per-key window ordered (ts, event_id); state bounded by the
    busiest key."""
    from ..operators import cdc

    events = load_table(spark, sf_dir, "events")
    changes = events.select("user_id", "event_id", "event_type", "ts")
    return cdc.scd2_history(changes, ["user_id"], "ts", order_cols=["event_id"]).drop("ts")


CDC_SCD2_SQL = """
SELECT user_id, event_id, event_type,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal enrichment (operators/cdc.point_in_time_join): every
    purchase event is joined to the user-profile version valid AT its
    timestamp — the dimension being the SCD2 stream of the user's
    non-purchase events (event_type tracked, event_id tie-break).
    Spark runs the union+window shape (one shuffle per side, no
    interval join, no range blow-up); the oracle materializes the
    half-open validity intervals and joins with
    `valid_from <= ts < valid_to` — hash equality proves the window
    recipe implements exactly the interval semantics, including
    zero-width versions from same-timestamp changes and
    before-first-version facts (NULL state, version 0)."""
    from ..operators import cdc

    events = load_table(spark, sf_dir, "events")
    facts = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    changes = events.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return cdc.point_in_time_join(
        facts, changes, ["user_id"], "ts", ["event_type"], order_cols=["event_id"]
    )


SCD2_PIT_SQL = """
WITH hist AS (
    SELECT user_id, ts AS valid_from, lead(ts) OVER w AS valid_to,
           event_type, CAST(row_number() OVER w AS INT) AS version
    FROM events WHERE event_type <> 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT p.user_id, p.ts, p.event_id AS purchase_id,
       h.valid_from AS state_since,
       h.event_type AS state_event_type,
       coalesce(h.version, 0) AS state_version
FROM events p LEFT JOIN hist h
  ON h.user_id = p.user_id
 AND h.valid_from <= p.ts AND (h.valid_to IS NULL OR p.ts < h.valid_to)
WHERE p.event_type = 'purchase'
"""


# ----------------------------------------------------------- data quality
def dq_orders_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-publish expectation audit over orders (operators/dq): four
    row-level rules AND the key-uniqueness check folded into ONE
    aggregate scan, plus referential integrity against customer (one
    broadcast left-anti join) — the whole audit touches orders twice
    regardless of rule count. The 'o_orderstatus_finalized'
    expectation deliberately FAILS on the fixture ('P' orders exist)
    so non-zero violation counting is exercised, not just all-green
    rows."""
    from ..operators import dq

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = {
        "o_custkey_not_null": F.col("o_custkey").isNull(),
        "o_totalprice_positive": F.col("o_totalprice") <= 0,
        "o_orderstatus_known": ~F.col("o_orderstatus").isin("O", "F", "P"),
        "o_orderstatus_finalized": F.col("o_orderstatus") == "P",
    }
    return dq.audit(
        dq.expectation_counts(
            orders, rules, unique_rules={"o_orderkey_unique": ["o_orderkey"]}
        ),
        dq.fk_violations(orders, customer, {"o_custkey": "c_custkey"}, "fk_orders_customer"),
    )


DQ_ORDERS_SQL = """
WITH r AS (
    SELECT 'o_custkey_not_null' AS rule,
           CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_known',
           CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_finalized',
           CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'fk_orders_customer',
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
)
SELECT rule, n_violations, n_violations = 0 AS pass FROM r
"""


def orders_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (operators/dq
    .column_profile): null count, exact distinct count, and typed
    min/max for every profiled column, ALL from one aggregate scan
    unpivoted with stack — never one job per column."""
    from ..operators import dq

    orders = load_table(spark, sf_dir, "orders")
    return dq.column_profile(
        orders,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


ORDERS_COLUMN_STATS_SQL = """
SELECT 'o_orderkey' AS col,
       CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey',
       CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(coalesce(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(coalesce(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(coalesce(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(o_orderpriority), max(o_orderpriority)
FROM orders
"""


QUERIES: dict[str, QuerySpec] = {
    q.name: q
    for q in [
        QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_SQL, q1_pricing_summary.__doc__, headline=True, tags=("relational", "agg")),
        QuerySpec("q3_shipping_priority", q3_shipping_priority, Q3_SQL, q3_shipping_priority.__doc__, headline=True, tags=("relational", "join", "topk")),
        # r8 session-3 rotation: q5 (one of 22 TPC-H shapes; 18 were
        # already extras-oracled) frees its slot for the NEW incremental
        # view maintenance family; q5 keeps its oracle in extras.
        QuerySpec("ivm_orders_revenue", ivm_orders_revenue, IVM_ORDERS_SQL, ivm_orders_revenue.__doc__, headline=True, tags=("relational", "cdc", "ivm", "agg", "pipeline")),
        # r8 rotation: top_customers_revenue / join_semi_anti /
        # join_outer_agg / range_band_join / window_rank /
        # udtf_tokenize / exists_subquery to EXTRA (oracles kept,
        # parity-checked every pytest run; the join family stays
        # in-window via q3/q5/asof/cdc_merge, topk via q3, windows via
        # events_transition_matrix, the UDF surface via
        # holistic_pandas_agg) — the freed slots let the driver hash
        # the r7-oracled warehouse families (SCD2 history, column
        # profiling) and the new r8 queries.
        # r12 rotation IN (VERDICT r11 item 7): the two r11 storage
        # faces the driver has never hashed — the native
        # spark.read.format("manifest") read path (JVM-free bucket
        # replay + stats pruning + Arrow DV reader) and partition-spec
        # evolution (layout changes never change answers). Slots freed
        # by asof_join_events and dedup_minhash_lsh (both driver-green
        # 10 rounds since r2; both move to EXTRA with their exact
        # oracles, families stay in-window — joins via q3/
        # cdc_merge_orders_manifest, LSH via
        # similarity_cosine_near_dup_lsh / similarity_near_dup_lsh_prod).
        QuerySpec("manifest_native_scan", manifest_native_scan, MANIFEST_NATIVE_SCAN_SQL, manifest_native_scan.__doc__, tags=("relational", "storage", "datasource", "pipeline")),
        QuerySpec("manifest_repartition_scan", manifest_repartition_scan, MANIFEST_REPARTITION_SQL, manifest_repartition_scan.__doc__, tags=("relational", "storage", "repartition", "pipeline")),
        # r13 rotation IN (slots freed by multimodal_near_dup_video /
        # similarity_eval_lsh / embedding_standardize — see
        # plans/northstar.py): two exactly-oracled extras the driver
        # never hashed, plus the NEW cross-table atomic-commit face.
        QuerySpec("scd2_point_in_time", scd2_point_in_time, SCD2_PIT_SQL, scd2_point_in_time.__doc__, tags=("relational", "cdc", "window", "join", "temporal")),
        QuerySpec("manifest_delete_dv", manifest_delete_dv, MANIFEST_DELETE_SQL, manifest_delete_dv.__doc__, tags=("relational", "storage", "delete", "dv", "pipeline")),
        QuerySpec("group_atomic_ivm", group_atomic_ivm, GROUP_ATOMIC_IVM_SQL, group_atomic_ivm.__doc__, tags=("relational", "storage", "cdc", "ivm", "transaction", "pipeline")),
        # late-r8 rotation: grouping_variants / percentile_suite /
        # distinct_suite (driver-hashed green since the early rounds;
        # each is a consolidation whose granular twins — rollup/cube/
        # grouping_sets, percentiles/approx, distinct/approx — keep
        # their oracles in extras) move out so the driver hashes the
        # three new r8 dedup/graph families registered in
        # plans/northstar.py: dedup_cdc_chunks, dedup_containment,
        # graph_kcore. Window stays 50/50 oracled.
        QuerySpec("holistic_pandas_agg", holistic_pandas_agg, HOLISTIC_PANDAS_SQL, holistic_pandas_agg.__doc__, tags=("relational", "agg", "udf", "pandas")),
        # late-r8 rotation: set_ops (driver-hashed green since r1; its
        # oracle stays in extras) frees a slot for the new northstar
        # ExactSubstr span family registered in plans/northstar.py.
        QuerySpec("scalar_part_kernels", scalar_part_kernels, SCALAR_PART_KERNELS_SQL, scalar_part_kernels.__doc__, tags=("relational", "scalar", "struct", "map")),
        # json_funcs rotated to EXTRA in r7, and late-r7
        # scalar_datetime_funcs / array_funcs followed it
        # (scalar_part_kernels keeps the scalar families in-window;
        # all three twins stay oracle-checked in pytest) — the freed
        # slots carry the two NEW r7 families so the driver hashes
        # them: text_pii_redact (northstar) and cdc_merge_orders.
        # r11 rotation OUT: cdc_merge_orders (driver-hashed green since
        # r7; its EXACT oracle stays in-window via
        # cdc_merge_orders_manifest, which shares CDC_MERGE_SQL) and
        # orders_column_stats / text_model_quality (below) — freeing
        # three slots for the r11 storage faces the driver has never
        # hashed: cdc_change_feed (VERDICT r10 item 7),
        # cdc_merge_schema_evolution (item 1), manifest_delete_from
        # (item 3). All three rotated-out oracles stay parity-checked.
        # r10 rotation IN (VERDICT r9 item 3): the transactional twin
        # of cdc_merge_orders — SAME oracle SQL, so the driver hash
        # row claims manifest-path ≡ logical-merge row identity for
        # the r9 lakehouse layer (sources/manifest.py). Slot freed by
        # embedding_dim_stats (plans/northstar.py rotation comment).
        QuerySpec("cdc_merge_orders_manifest", cdc_merge_orders_manifest, CDC_MERGE_SQL, cdc_merge_orders_manifest.__doc__, headline=True, tags=("relational", "cdc", "join", "pipeline", "storage")),
        QuerySpec("cdc_change_feed", cdc_change_feed, CDC_CHANGE_FEED_SQL, cdc_change_feed.__doc__, tags=("relational", "cdc", "storage", "pipeline")),
        QuerySpec("cdc_merge_schema_evolution", cdc_merge_schema_evolution, CDC_SCHEMA_EVOLUTION_SQL, cdc_merge_schema_evolution.__doc__, tags=("relational", "cdc", "storage", "schema-evolution", "pipeline")),
        QuerySpec("manifest_delete_from", manifest_delete_from, MANIFEST_DELETE_SQL, manifest_delete_from.__doc__, tags=("relational", "storage", "delete", "pipeline")),
        # late-r7 rotation: pivot_events to EXTRA (its unpivot twin
        # was already there; both keep oracles in pytest) — the slot
        # carried dq_orders_audit through r13. r14 rotation: dq audit
        # (driver-hashed green r7-r13; oracle stays in extras with
        # orders_column_stats keeping the dq family parity-checked)
        # frees the slot for asof_join_events' RETURN — the as-of
        # custom op, exactly-oracled but outside the window since r12
        # (VERDICT r13 item 8).
        QuerySpec("asof_join_events", asof_join_events, ASOF_JOIN_SQL, asof_join_events.__doc__, headline=True, tags=("relational", "join", "asof", "custom-op")),
        # r8 rotation IN: the r7-oracled warehouse families the driver
        # had never hashed (VERDICT r7 item 1).
        QuerySpec("cdc_scd2_history", cdc_scd2_history, CDC_SCD2_SQL, cdc_scd2_history.__doc__, tags=("relational", "cdc", "window")),
    ]
}

# Granular twins of the consolidated driver rows plus the compat-path
# twins — same oracles, verified by tests/test_parity.py at sf0.001
# every CI run instead of occupying driver CORRECTNESS slots.
# window_running / window_lag / scalar_conditional_funcs rotated here
# in round 4, window_frames / scalar_math_funcs in round 5 (window_rank
# keeps the window family, scalar_part/datetime/array/json keep the
# scalar families in the driver window) to free slots for the new
# northstar operators (quantized_topk, distinct_user_rollup).
EXTRA_QUERIES: dict[str, QuerySpec] = {
    q.name: q
    for q in [
        QuerySpec("set_ops", set_ops, SET_OPS_SQL, set_ops.__doc__, tags=("relational", "setop")),
        # r13: scd2_point_in_time and manifest_delete_dv rotated INTO
        # the driver window above; r14: asof_join_events returned to
        # the window and dq_orders_audit rotated here (oracle kept):
        QuerySpec("dq_orders_audit", dq_orders_audit, DQ_ORDERS_SQL, dq_orders_audit.__doc__, tags=("relational", "dq", "audit", "pipeline")),
        # r11 rotation OUT (driver-hashed green multi-round; families
        # stay in-window — see the QUERIES comment):
        QuerySpec("cdc_merge_orders", cdc_merge_orders, CDC_MERGE_SQL, cdc_merge_orders.__doc__, headline=True, tags=("relational", "cdc", "join", "pipeline")),
        QuerySpec("orders_column_stats", orders_column_stats, ORDERS_COLUMN_STATS_SQL, orders_column_stats.__doc__, tags=("relational", "dq", "stats")),
        QuerySpec("q5_local_supplier", q5_local_supplier, Q5_SQL, q5_local_supplier.__doc__, headline=True, tags=("relational", "join")),
        QuerySpec("grouping_variants", grouping_variants, GROUPING_VARIANTS_SQL, grouping_variants.__doc__, tags=("relational", "agg")),
        QuerySpec("percentile_suite", percentile_suite, PERCENTILE_SUITE_SQL, percentile_suite.__doc__, tags=("relational", "agg", "approx")),
        QuerySpec("distinct_suite", distinct_suite, DISTINCT_SUITE_SQL, distinct_suite.__doc__, tags=("relational", "agg", "approx")),
        QuerySpec("q17_small_quantity", q17_small_quantity, Q17_SQL, q17_small_quantity.__doc__, tags=("relational", "join", "subquery", "sql-api")),
        QuerySpec("json_funcs", json_funcs, JSON_FUNCS_SQL, json_funcs.__doc__, tags=("relational", "scalar", "json")),
        QuerySpec("window_frames", window_frames, WINDOW_FRAMES_SQL, window_frames.__doc__, tags=("relational", "window", "sql-api")),
        QuerySpec("window_distribution", window_distribution, WINDOW_DISTRIBUTION_SQL, window_distribution.__doc__, tags=("relational", "window")),
        QuerySpec("unpivot_events", unpivot_events, UNPIVOT_EVENTS_SQL, unpivot_events.__doc__, tags=("relational", "pivot")),
        QuerySpec("null_agg_semantics", null_agg_semantics, NULL_AGG_SEMANTICS_SQL, null_agg_semantics.__doc__, tags=("relational", "agg", "nulls")),
        QuerySpec("scalar_math_funcs", scalar_math_funcs, SCALAR_MATH_SQL, scalar_math_funcs.__doc__, tags=("relational", "scalar")),
        QuerySpec("join_semi", join_semi, JOIN_SEMI_SQL, join_semi.__doc__, tags=("relational", "join")),
        QuerySpec("bloom_semi_join", bloom_semi_join_query, BLOOM_SEMI_JOIN_SQL, bloom_semi_join_query.__doc__, tags=("relational", "join", "bloom", "custom-op")),
        QuerySpec("window_running", window_running, WINDOW_RUNNING_SQL, window_running.__doc__, tags=("relational", "window")),
        QuerySpec("window_lag", window_lag, WINDOW_LAG_SQL, window_lag.__doc__, tags=("relational", "window")),
        QuerySpec("scalar_conditional_funcs", scalar_conditional_funcs, SCALAR_CONDITIONAL_SQL, scalar_conditional_funcs.__doc__, tags=("relational", "scalar")),
        QuerySpec("join_anti", join_anti, JOIN_ANTI_SQL, join_anti.__doc__, tags=("relational", "join")),
        QuerySpec("asof_join_cogroup", asof_join_cogroup, ASOF_JOIN_SQL, asof_join_cogroup.__doc__, tags=("relational", "join", "asof", "compat", "pandas")),
        QuerySpec("rollup_agg", rollup_agg, ROLLUP_SQL, rollup_agg.__doc__, tags=("relational", "agg")),
        QuerySpec("cube_agg", cube_agg, CUBE_SQL, cube_agg.__doc__, tags=("relational", "agg")),
        QuerySpec("grouping_sets_agg", grouping_sets_agg, GROUPING_SETS_SQL, grouping_sets_agg.__doc__, tags=("relational", "agg", "sql-api")),
        QuerySpec("percentiles", percentiles, PERCENTILES_SQL, percentiles.__doc__, tags=("relational", "agg")),
        QuerySpec("approx_percentiles", approx_percentiles, APPROX_PERCENTILES_SQL, approx_percentiles.__doc__, tags=("relational", "agg", "approx")),
        QuerySpec("distinct_agg", distinct_agg, DISTINCT_AGG_SQL, distinct_agg.__doc__, tags=("relational", "agg")),
        QuerySpec("approx_distinct", approx_distinct, APPROX_DISTINCT_SQL, approx_distinct.__doc__, tags=("relational", "agg", "approx")),
        QuerySpec("udaf_median", udaf_median, UDAF_MEDIAN_SQL, udaf_median.__doc__, tags=("relational", "agg", "udf", "udaf")),
        QuerySpec("scalar_string_funcs", scalar_string_funcs, SCALAR_STRING_SQL, scalar_string_funcs.__doc__, tags=("relational", "scalar")),
        QuerySpec("scalar_struct_bit_funcs", scalar_struct_bit_funcs, SCALAR_STRUCT_BIT_SQL, scalar_struct_bit_funcs.__doc__, tags=("relational", "scalar", "struct")),
        QuerySpec("map_funcs", map_funcs, MAP_FUNCS_SQL, map_funcs.__doc__, tags=("relational", "scalar", "map")),
        QuerySpec("scalar_datetime_funcs", scalar_datetime_funcs, SCALAR_DATETIME_SQL, scalar_datetime_funcs.__doc__, tags=("relational", "scalar")),
        QuerySpec("array_funcs", array_funcs, ARRAY_FUNCS_SQL, array_funcs.__doc__, tags=("relational", "scalar", "array")),
        QuerySpec("pivot_events", pivot_events, PIVOT_EVENTS_SQL, pivot_events.__doc__, tags=("relational", "pivot")),
        # r8 rotation OUT (oracles kept; see the QUERIES comment):
        QuerySpec("top_customers_revenue", top_customers_revenue, TOP_CUSTOMERS_SQL, top_customers_revenue.__doc__, tags=("relational", "join", "topk")),
        QuerySpec("join_semi_anti", join_semi_anti, JOIN_SEMI_ANTI_SQL, join_semi_anti.__doc__, tags=("relational", "join")),
        QuerySpec("join_outer_agg", join_outer_agg, JOIN_OUTER_SQL, join_outer_agg.__doc__, tags=("relational", "join")),
        QuerySpec("range_band_join", range_band_join, RANGE_BAND_SQL, range_band_join.__doc__, tags=("relational", "join", "range")),
        QuerySpec("window_rank", window_rank, WINDOW_RANK_SQL, window_rank.__doc__, tags=("relational", "window")),
        QuerySpec("udtf_tokenize", udtf_tokenize, _WORDCOUNT_ORACLE, udtf_tokenize.__doc__, tags=("relational", "udf", "udtf", "compat")),
        QuerySpec("exists_subquery", exists_subquery, EXISTS_SUBQUERY_SQL, exists_subquery.__doc__, tags=("relational", "join", "subquery", "sql-api")),
    ]
}
