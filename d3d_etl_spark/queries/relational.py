"""Relational core: scans, filters, projections, the join family.

SURVEY.md §2 coverage: S1/P1-P4/P6 (scan+filter+project), J1 (broadcast left
join + coalesce fallback), J2 (enrichment join tree), J3 (left_semi),
J4 (full outer), J5 (composite key), J8 (anti), O1/O2 (sorts), plus the
TPC-H-shaped headline queries used by bench.py.

Scale notes: every dimension join is broadcast (region/nation/customer fit in
MBs even at 100 TB lineitem); fact-fact joins shuffle on their keys and rely
on AQE for skew. Exact money math via functions.money (cents) keeps results
partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.money import (
    cents,
    sql_avg_money,
    sql_cents,
    sql_sum_money,
)
from d3d_etl_spark.io import load_table
from d3d_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: scan + filter + hash agg (A1/A2/M3)
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1998-09-02"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)          AS sum_qty,
  {sql_sum_money('l_extendedprice')}                        AS sum_base_price,
  CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE) / 10000.0
                                                            AS sum_disc_price,
  CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) * (100 + {sql_cents('l_tax')})) AS DOUBLE) / 1000000.0
                                                            AS sum_charge,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
  {sql_avg_money('l_extendedprice')}                        AS avg_price,
  {sql_avg_money('l_discount')}                             AS avg_disc,
  COUNT(*)                                                  AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE, tags=("agg", "scan"), bench=True)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price_c = cents(F.col("l_extendedprice"))
    disc_pct = cents(F.col("l_discount"))  # 0.05 -> 5
    tax_pct = cents(F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_pct)).cast("double") / 10000.0).alias("sum_disc_price"),
            (
                F.sum(price_c * (100 - disc_pct) * (100 + tax_pct)).cast("double") / 1000000.0
            ).alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("long")).cast("double") / F.count("*")).alias(
                "avg_qty"
            ),
            (F.sum(price_c).cast("double") / F.count(F.col("l_extendedprice")) / 100.0).alias(
                "avg_price"
            ),
            (F.sum(disc_pct).cast("double") / F.count(F.col("l_discount")) / 100.0).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3_top_orders — TPC-H Q3 shape: 3-way join + agg + deterministic top-k
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
  CAST(o_orderdate AS DATE) AS orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_top_orders", _Q3_ORACLE, tags=("join", "agg", "topk"), bench=True)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    # customer scales WITH the corpus (it is not a dimension): the
    # scope=all stress audit measured its forced broadcast growing 3.3x
    # per 10x data — shuffle-hash with the filtered customer side as build
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"), "o_orderpriority")
        .agg((F.sum(rev).cast("double") / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5_nation_revenue — TPC-H Q5 shape: star join through region/nation (J1)
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT
  n_name,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register("q5_nation_revenue", _Q5_ORACLE, tags=("join", "agg"), bench=True)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    # Only nation/region are TRUE dimensions (fixed cardinality at any
    # corpus size) — they broadcast. orders/customer/supplier scale with
    # the SF, so their joins shuffle-hash with the smaller (filtered) side
    # as build: an all-broadcast plan wins the toy-scale benchmark, but
    # the scope=all stress audit measures its relations growing linearly
    # (the q3 twin breaches the flatness bound) — at 100 TB a
    # customer broadcast is a multi-GB relation on every executor.
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
        .join(
            supp.hint("shuffle_hash"),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(rev).cast("double") / 10000.0).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# join_family — the non-equi-enrichment join surface as one tagged union,
# so every arm sits inside the driver's 50-query window. Each arm keeps its
# own join strategy and oracle; normalized onto (part, key, name, seg, i1,
# i2, v):
#   part='semi'  J3 existence filter as left_semi
#   part='anti'  J8/U2 incremental "todo = all - done" as left_anti
#                (io.incremental_todo, reference collect_pbp.py resume scan)
#   part='left'  J1/P8 left join + null-preserving coalesce fallback
#   part='outer' J4 full outer join of two per-key aggregates
# ---------------------------------------------------------------------------

_JOIN_FAMILY_ORACLE = """
SELECT 'semi' AS part, CAST(c_custkey AS BIGINT) AS key, c_name AS name,
       c_mktsegment AS seg, CAST(NULL AS BIGINT) AS i1, CAST(NULL AS BIGINT) AS i2,
       CAST(NULL AS DOUBLE) AS v
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
UNION ALL
SELECT 'anti', CAST(c_custkey AS BIGINT), c_name, NULL, NULL, NULL, NULL
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
UNION ALL
SELECT 'left', CAST(c.c_custkey AS BIGINT), c.c_name, NULL,
       COALESCE(o.n_orders, 0), NULL, COALESCE(o.total_spent, 0.0)
FROM customer c
LEFT JOIN (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spent
  FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'outer', CAST(COALESCE(a.user_id, b.user_id) AS BIGINT), NULL, NULL,
       COALESCE(a.n_clicks, 0), COALESCE(b.n_purchases, 0),
       COALESCE(b.purchase_value, 0.0)
FROM (
  SELECT user_id, COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY user_id
) a
FULL OUTER JOIN (
  SELECT user_id,
         COUNT(*) AS n_purchases,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
) b ON a.user_id = b.user_id
"""


@register("join_family", _JOIN_FAMILY_ORACLE, tags=("join",))
def join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.io import incremental_todo

    i_null = F.lit(None).cast("long")
    v_null = F.lit(None).cast("double")
    s_null = F.lit(None).cast("string")

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    # part='semi' (J3)
    f_orders = orders.where(F.col("o_orderstatus") == "F")
    semi = cust.join(f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi").select(
        F.lit("semi").alias("part"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        i_null.alias("i1"), i_null.alias("i2"), v_null.alias("v"),
    )

    # part='anti' (J8/U2) — the incremental-scan operator
    done = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    anti = incremental_todo(cust, done, "c_custkey").select(
        F.lit("anti").alias("part"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        s_null.alias("seg"), i_null.alias("i1"), i_null.alias("i2"), v_null.alias("v"),
    )

    # part='left' (J1/P8)
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100.0).alias("total_spent"),
    )
    left = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left").select(
        F.lit("left").alias("part"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("name"),
        s_null.alias("seg"),
        F.coalesce("n_orders", F.lit(0)).alias("i1"),
        i_null.alias("i2"),
        F.coalesce("total_spent", F.lit(0.0)).alias("v"),
    )

    # part='outer' (J4)
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("purchase_value"),
        )
    )
    a, b = clicks.alias("a"), purch.alias("b")
    outer = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "outer").select(
        F.lit("outer").alias("part"),
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).cast("long").alias("key"),
        s_null.alias("name"), s_null.alias("seg"),
        F.coalesce("n_clicks", F.lit(0)).alias("i1"),
        F.coalesce("n_purchases", F.lit(0)).alias("i2"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("v"),
    )

    return semi.unionByName(anti).unionByName(left).unionByName(outer)


# ---------------------------------------------------------------------------
# join_composite_share — J5/W12: composite-key join back to a group rollup
# ---------------------------------------------------------------------------

_COMPOSITE_ORACLE = """
SELECT
  l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
  CAST(l.l_quantity AS DOUBLE) / g.total_qty AS qty_share
FROM lineitem l
JOIN (
  SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
) g ON l.l_partkey = g.l_partkey AND l.l_suppkey = g.l_suppkey
"""


@register("join_composite_share", _COMPOSITE_ORACLE, tags=("join", "window"))
def join_composite_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty")
    )
    return li.join(g, ["l_partkey", "l_suppkey"]).select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        (F.col("l_quantity").cast("double") / F.col("total_qty")).alias("qty_share"),
    )


# ---------------------------------------------------------------------------
# z_join_asof — as-of join (z_ tier, beyond-reference; the canonical time-series lookup
# Spark lacks natively): for each purchase event, the latest view event of
# the same user at-or-before the purchase. Single shuffle via the
# union+ordered-window formulation in operators/joins.asof_join.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
j AS (
  SELECT p.event_id, p.user_id, p.ts,
         v.event_id AS view_event_id, v.ts AS view_ts,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY v.ts DESC, v.event_id DESC
         ) AS rn
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT event_id, user_id, ts, view_event_id, view_ts FROM j WHERE rn = 1
"""


@register("z_join_asof", _ASOF_ORACLE, tags=("join",), bench=True)
def z_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    return asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="view_ts",
        right_cols=["view_event_id", "view_ts"],
        tie_col="view_event_id",
    )


# ---------------------------------------------------------------------------
# z_join_range — keyed interval join (z_ tier, beyond-reference): per purchase event,
# how many view/click events the same user produced in the preceding hour.
# Binned equi-join (operators/joins.binned_range_join) instead of the
# BroadcastNestedLoopJoin a raw range predicate would force. Exact integer
# microseconds on both engines.
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000

_RANGE_ORACLE = f"""
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT user_id, epoch_us(ts) AS v
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT p.event_id, p.user_id, COUNT(e.v) AS n_prior_hour
FROM p LEFT JOIN e
  ON p.user_id = e.user_id AND e.v >= p.t - {_HOUR_US} AND e.v <= p.t
GROUP BY 1, 2
"""


@register("z_join_range", _RANGE_ORACLE, tags=("join",))
def z_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.joins import binned_range_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    ).withColumn("lo", F.col("t") - _HOUR_US)
    e = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.unix_micros("ts").alias("v")
    )
    hits = binned_range_join(
        p, e, on=["user_id"], left_lo="lo", left_hi="t", right_val="v",
        bin_width=_HOUR_US,
    ).groupBy("event_id").agg(F.count("*").alias("n_prior_hour"))
    return (
        p.join(hits, "event_id", "left")
        .select(
            "event_id", "user_id",
            F.coalesce("n_prior_hour", F.lit(0)).alias("n_prior_hour"),
        )
    )


# ---------------------------------------------------------------------------
# z_join_salted — the skew-defusing join (z_ tier), oracled against the PLAIN join it
# must be row-identical to (salting changes distribution, never results):
# orders x customer segment lookup with the small side replicated 4-ways.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT o_orderkey, c_mktsegment,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@register("z_join_salted", _SALTED_ORACLE, tags=("join",))
def z_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return salted_join(orders, cust, ["c_custkey"], salt=4).select(
        "o_orderkey", "c_mktsegment", cents(F.col("o_totalprice")).alias("price_cents")
    )


# ---------------------------------------------------------------------------
# csv_scan_compat — S1 CSV compat path end-to-end: export orders to the CSV
# dialect, scan it back with a DECLARED schema (no inference), aggregate.
# Proves the migrating-user path (the reference's storage is CSV at every
# stage boundary) produces byte-identical results to the parquet scan: the
# oracle below reads the PARQUET view, so any round-trip loss would
# hash-mismatch. Exercises double round-trip (shortest-repr), timestamp
# format, and RFC-4180 quoting.
# ---------------------------------------------------------------------------

_CSV_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_sum_money("o_totalprice")} AS total_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY 1
"""


@register("csv_scan_compat", _CSV_ORACLE, tags=("scan", "io"))
def csv_scan_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from d3d_etl_spark.functions.money import sum_money
    from d3d_etl_spark.io import load_csv, write_csv

    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    )
    csv_dir = os.path.join(
        tempfile.gettempdir(), "d3d_csv_compat", os.path.basename(os.path.normpath(sf_dir)), "orders"
    )
    write_csv(load_table(spark, sf_dir, "orders"), csv_dir)
    orders = load_csv(spark, csv_dir, schema)
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_money(F.col("o_totalprice")).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderkey").alias("max_key"),
    )
