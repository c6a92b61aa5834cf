"""Scalar-function surface (SURVEY.md §2.9 T4/T5/T8/D1-D3/M1-M5, §2.2 P10,
§2.7 set ops).

Everything here is a pure Catalyst expression (whole-stage codegen, no UDFs,
no shuffle beyond the final exchange) — the reference does all of it with
row-wise pandas string/number ops.

The five scalar micro-queries are published as ONE tagged union
(`scalar_funcs`) so the
whole scalar surface sits inside the driver's 50-query correctness window;
each arm keeps its own source table, operators and oracle SQL, normalized
onto a shared (part, k1, k2, i1-i3, d1-d5, s1-s5, dt1, dt2) schema. The
three set operations union the same way (`set_ops`). Per-function unit
tests live in tests/test_functions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.math import clip, ip_to_innings, ip_to_thirds, safe_div, thirds_to_ip
from d3d_etl_spark.functions.money import cents
from d3d_etl_spark.functions.strings import hash_id, md5_int, normalize_name
from d3d_etl_spark.io import load_table
from d3d_etl_spark.queries.registry import register

# normalized scalar-family schema: NULL columns typed per engine
_I = "CAST(NULL AS BIGINT)"
_D = "CAST(NULL AS DOUBLE)"
_S = "CAST(NULL AS VARCHAR)"
_DT = "CAST(NULL AS VARCHAR)"


# ---------------------------------------------------------------------------
# scalar_funcs — the scalar-expression surface as one tagged union:
#   part='cast'  P10 to_numeric-coerce via try_cast + JSON extraction
#                (reference leaderboards/main.py:197-205; S10 JSON)
#   part='date'  D1/D2 date parse/extract + max-watermark + day arithmetic
#                (reference collect_schedules.py:90-98)
#   part='math'  M1-M5 safe divide, clip, round, innings codec, signum
#                (reference common.py:5-36, sos_utils.py:89-91)
#   part='norm'  T4/T5 lower/strip/extract/flip (reference names/helpers.py:6-19)
#   part='hash'  T8 salted sha256[:16] ids + portable 32-bit bucket hash
#                (reference scripts/hash_player_ids.py:11-38)
# ---------------------------------------------------------------------------

_SCALAR_ORACLE = f"""
SELECT 'cast' AS part,
       CAST(event_id AS BIGINT) AS k1, {_I} AS k2,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS i1,
       TRY_CAST(json_extract_string(props, '$.missing') AS BIGINT) AS i2,
       {_I} AS i3,
       TRY_CAST(event_type AS DOUBLE) AS d1,
       {_D} AS d2, {_D} AS d3, {_D} AS d4, {_D} AS d5,
       {_S} AS s1, {_S} AS s2, {_S} AS s3, {_S} AS s4, {_S} AS s5,
       {_DT} AS dt1, {_DT} AS dt2
FROM events
UNION ALL
SELECT 'date', CAST(o_custkey AS BIGINT), NULL,
       CAST(year(MAX(o_orderdate)) AS BIGINT),
       COUNT(DISTINCT year(o_orderdate)),
       COUNT(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)),
       NULL, NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, NULL,
       CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR),
       CAST(CAST(MAX(o_orderdate) AS DATE) + 1 AS VARCHAR)
FROM orders
GROUP BY o_custkey
UNION ALL
SELECT 'math', CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT),
       CAST(l_quantity AS BIGINT),
       NULL, NULL,
       CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) / 3.0,
       CASE WHEN CAST(l_quantity AS BIGINT) != 0
            THEN CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DOUBLE) / CAST(l_quantity AS BIGINT)
            ELSE 0.0 END,
       GREATEST(5.0, LEAST(40.0, l_quantity)),
       ROUND(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(l_quantity AS BIGINT) / 100.0, 2),
       CASE WHEN l_discount - 0.05 > 0 THEN 1.0 WHEN l_discount - 0.05 < 0 THEN -1.0 ELSE 0.0 END,
       CAST(CAST(l_quantity AS BIGINT) // 3 AS VARCHAR) || '.' || CAST(CAST(l_quantity AS BIGINT) % 3 AS VARCHAR),
       NULL, NULL, NULL, NULL,
       NULL, NULL
FROM lineitem
UNION ALL
SELECT 'norm', CAST(p_partkey AS BIGINT), NULL,
       NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, NULL,
       lower(trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))),
       regexp_extract(p_name, '^(\\w+)', 1),
       regexp_extract(p_name, '(\\w+)$', 1),
       regexp_extract(p_name, '(\\w+)$', 1) || ', ' || regexp_extract(p_name, '^(\\w+)', 1),
       trim(regexp_extract(regexp_extract(p_name, '(\\w+)$', 1) || ', ' || regexp_extract(p_name, '^(\\w+)', 1), ',(.*)$', 1))
         || ' ' ||
       trim(regexp_extract(regexp_extract(p_name, '(\\w+)$', 1) || ', ' || regexp_extract(p_name, '^(\\w+)', 1), '^([^,]+),', 1)),
       NULL, NULL
FROM part
UNION ALL
SELECT 'hash', CAST(c_custkey AS BIGINT), NULL,
       ('0x' || substr(md5(c_name), 1, 8))::BIGINT,
       ('0x' || substr(md5(c_name), 1, 8))::BIGINT % 1024,
       NULL,
       NULL, NULL, NULL, NULL, NULL,
       substr(sha256('d3d:' || CAST(c_custkey AS VARCHAR)), 1, 16),
       NULL, NULL, NULL, NULL,
       NULL, NULL
FROM customer
"""


def _norm_row(part: str, k1, k2=None, i1=None, i2=None, i3=None,
              d1=None, d2=None, d3=None, d4=None, d5=None,
              s1=None, s2=None, s3=None, s4=None, s5=None,
              dt1=None, dt2=None) -> list:
    def c(v, t):
        return (F.lit(None) if v is None else v).cast(t)

    return [
        F.lit(part).alias("part"),
        c(k1, "long").alias("k1"), c(k2, "long").alias("k2"),
        c(i1, "long").alias("i1"), c(i2, "long").alias("i2"), c(i3, "long").alias("i3"),
        c(d1, "double").alias("d1"), c(d2, "double").alias("d2"),
        c(d3, "double").alias("d3"), c(d4, "double").alias("d4"),
        c(d5, "double").alias("d5"),
        c(s1, "string").alias("s1"), c(s2, "string").alias("s2"),
        c(s3, "string").alias("s3"), c(s4, "string").alias("s4"),
        c(s5, "string").alias("s5"),
        c(dt1, "string").alias("dt1"), c(dt2, "string").alias("dt2"),
    ]


@register("scalar_funcs", _SCALAR_ORACLE, tags=("cast", "date", "math", "string", "hash"))
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import flip_last_first

    # part='cast' — P10 coerce + JSON field extraction over events
    ev = load_table(spark, sf_dir, "events")
    cast_part = ev.select(
        *_norm_row(
            "cast", F.col("event_id"),
            i1=F.get_json_object("props", "$.k").try_cast("long"),
            i2=F.get_json_object("props", "$.missing").try_cast("long"),
            d1=F.col("event_type").try_cast("double"),
        )
    )

    # part='date' — D1/D2 watermark + calendar arithmetic over orders
    orders = load_table(spark, sf_dir, "orders")
    max_d = F.max(F.col("o_orderdate")).cast("date")
    date_agg = orders.groupBy("o_custkey").agg(
        max_d.alias("_last"),
        F.date_add(max_d, 1).alias("_resume"),
        F.year(F.max("o_orderdate")).cast("long").alias("_year"),
        F.countDistinct(F.year("o_orderdate")).alias("_ny"),
        F.countDistinct(F.trunc("o_orderdate", "month")).alias("_nm"),
    )
    date_part = date_agg.select(
        *_norm_row(
            "date", F.col("o_custkey"),
            i1=F.col("_year"), i2=F.col("_ny"), i3=F.col("_nm"),
            dt1=F.col("_last"), dt2=F.col("_resume"),
        )
    )

    # part='math' — M1-M5 over lineitem (incl. the base-3 IP codec round-trip)
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    ip_str = thirds_to_ip(qty)
    math_part = li.select(
        *_norm_row(
            "math", F.col("l_orderkey"), F.col("l_linenumber"),
            i1=ip_to_thirds(ip_str),
            d1=ip_to_innings(ip_str),
            d2=safe_div(cents(F.col("l_extendedprice")).cast("double"), qty, 0.0),
            d3=clip(F.col("l_quantity"), 5.0, 40.0),
            d4=F.round(cents(F.col("l_discount")) * qty / 100.0, 2),
            d5=F.signum(F.col("l_discount") - 0.05),
            s1=ip_str,
        )
    )

    # part='norm' — T4/T5 normalize/extract/flip over part names
    part_t = load_table(spark, sf_dir, "part")
    first_word = F.regexp_extract("p_name", r"^(\w+)", 1)
    last_word = F.regexp_extract("p_name", r"(\w+)$", 1)
    keyed = F.concat(last_word, F.lit(", "), first_word)
    norm_part = part_t.select(
        *_norm_row(
            "norm", F.col("p_partkey"),
            s1=normalize_name(F.col("p_name")),
            s2=first_word, s3=last_word, s4=keyed,
            s5=flip_last_first(keyed),
        )
    )

    # part='hash' — T8 salted ids + portable bucket hash over customer
    cust = load_table(spark, sf_dir, "customer")
    h = md5_int(F.col("c_name"))
    hash_part = cust.select(
        *_norm_row(
            "hash", F.col("c_custkey"),
            i1=h, i2=h % 1024,
            s1=hash_id(F.col("c_custkey")),
        )
    )

    return (
        cast_part.unionByName(date_part)
        .unionByName(math_part)
        .unionByName(norm_part)
        .unionByName(hash_part)
    )


# ---------------------------------------------------------------------------
# set_ops — U1-U3 union/except/intersect as one tagged union (U4 distinct is
# exercised by every arm). Reference concat/set-difference/overlap idioms.
# ---------------------------------------------------------------------------

_SET_ORACLE = """
SELECT 'union' AS part, custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  UNION
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
UNION ALL
SELECT 'except', custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
UNION ALL
SELECT 'intersect', custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
)
"""


@register("set_ops", _SET_ORACLE, tags=("setop",))
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where("o_orderstatus = 'F'").select(F.col("o_custkey").alias("custkey"))
    o = orders.where("o_orderstatus = 'O'").select(F.col("o_custkey").alias("custkey"))
    p = orders.where("o_orderstatus = 'P'").select(F.col("o_custkey").alias("custkey"))
    union_arm = f.unionByName(o).distinct().select(F.lit("union").alias("part"), "custkey")
    except_arm = (
        f.distinct()
        .exceptAll(o.distinct())
        .select(F.lit("except").alias("part"), "custkey")
    )
    intersect_arm = f.intersect(p).select(F.lit("intersect").alias("part"), "custkey")
    return union_arm.unionByName(except_arm).unionByName(intersect_arm)


# ---------------------------------------------------------------------------
# z_scalar_maint — the reference's data-maintenance transforms (z_ tier):
#   part='positions' scripts/clean_cube_positions.py:21-33 — strip count
#       suffixes, tokenize, allowlist, order-preserving dedup, re-join
#   part='division'  scripts/update_division_format.py — numeric 1/2/3 ->
#       'ncaa_{n}', idempotent for already-migrated values
# Inputs are deterministic dirty strings synthesized from table keys so
# every cleaning path (count suffix, mixed delimiters, invalid tokens,
# duplicates, empties, float-strings, pass-throughs) has coverage.
# ---------------------------------------------------------------------------

_POS_TEMPLATES = [
    "P-C", "1b. ss (12)", "of OF cf", "util", "", "P (3) - dh", "x - junk", "2B-3B.SS (29)",
]
_DIV_TEMPLATES = ["1", "2.0", "3", "ncaa_1", "weird", "2"]


def _maint_oracle() -> str:
    from d3d_etl_spark.functions.strings import sql_clean_positions, sql_normalize_division

    pos_case = "CASE p_partkey % 8 " + " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(_POS_TEMPLATES)
    ) + " END"
    div_case = "CASE c_custkey % 6 " + " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(_DIV_TEMPLATES)
    ) + " END"
    return f"""
SELECT 'positions' AS part, CAST(p_partkey AS BIGINT) AS key,
       {pos_case} AS raw,
       {sql_clean_positions(pos_case)} AS cleaned
FROM part
UNION ALL
SELECT 'division', CAST(c_custkey AS BIGINT),
       {div_case},
       {sql_normalize_division(div_case)}
FROM customer
"""


@register("z_scalar_maint", _maint_oracle(), tags=("string", "maintenance"))
def z_scalar_maint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import clean_positions, normalize_division

    part_t = load_table(spark, sf_dir, "part")
    pos_raw = None
    for i, t in enumerate(_POS_TEMPLATES):
        c = F.when(F.col("p_partkey") % 8 == i, t)
        pos_raw = c if pos_raw is None else pos_raw.when(F.col("p_partkey") % 8 == i, t)
    positions = part_t.select(
        F.lit("positions").alias("part"),
        F.col("p_partkey").cast("long").alias("key"),
        pos_raw.alias("raw"),
        clean_positions(pos_raw).alias("cleaned"),
    )
    cust = load_table(spark, sf_dir, "customer")
    div_raw = None
    for i, t in enumerate(_DIV_TEMPLATES):
        c = F.when(F.col("c_custkey") % 6 == i, t)
        div_raw = c if div_raw is None else div_raw.when(F.col("c_custkey") % 6 == i, t)
    division = cust.select(
        F.lit("division").alias("part"),
        F.col("c_custkey").cast("long").alias("key"),
        div_raw.alias("raw"),
        normalize_division(div_raw).alias("cleaned"),
    )
    return positions.unionByName(division)
