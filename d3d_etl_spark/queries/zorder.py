"""z_io_zorder — Z-order (Morton) clustering for multi-dimensional data
skipping: the lakehouse OPTIMIZE-ZORDER technique, engine-native.

A table range-partitioned by time alone skips beautifully on time
predicates and not at all on user predicates — every time slice spans
every user. Interleaving the bits of the two dimensions into one Morton
key and range-bucketing ON THE KEY gives files/buckets that are small
RECTANGLES in (time, user) space: a prefix of 2k Morton bits fixes k bits
of EACH dimension, so every bucket's min/max span is ~1/2^k of BOTH
ranges and predicates on either dimension (or both) prune buckets by
their min/max stats. This query publishes exactly those per-bucket
skipping stats — (bucket, n_events, min/max of each raw dimension) — so
the rectangle property itself is inside the driver hash, and
tests/test_zorder_r5.py pins the skipping advantage quantitatively
against time-only bucketing.

Determinism: grid coordinates are exact integer affine maps of the raw
values (scaled by the global min/max, integer division), the interleave
is pure bit arithmetic, and the bucket is the Morton-key prefix — every
step has a verbatim SQL twin. Scale shape: two global min/max scalars
(broadcast), then one map pass; at write time the same key feeds
repartitionByRange + sortWithinPartitions and the parquet min/max stats
do the pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.money import cents
from d3d_etl_spark.io import StateFamily, load_table, read_parquet
from d3d_etl_spark.queries.registry import register

_Z_BITS = 16        # grid resolution per dimension
_Z_BUCKET_BITS = 6  # bucket = top 6 Morton bits -> <= 64 quadtree cells


def morton_interleave(xg: Column, yg: Column, bits: int = _Z_BITS) -> Column:
    """Interleave two `bits`-bit grid coordinates into one Morton key:
    bit i of x lands at position 2i, bit i of y at 2i+1. Pure JVM bit
    arithmetic (codegen-friendly sum of shift/mask terms)."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.shiftleft(
            F.shiftright(xg, i).bitwiseAND(F.lit(1)), 2 * i
        ).cast("long")
        acc = acc + F.shiftleft(
            F.shiftright(yg, i).bitwiseAND(F.lit(1)), 2 * i + 1
        ).cast("long")
    return acc


def _sql_morton(xg: str, yg: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xg} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yg} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_GRID_MAX = (1 << _Z_BITS) - 1

_ZORDER_ORACLE = f"""
WITH e AS (
  SELECT epoch_us(ts) AS us, user_id FROM events
),
b AS (
  SELECT MIN(us) AS min_us, MAX(us) AS max_us,
         MIN(user_id) AS min_u, MAX(user_id) AS max_u
  FROM e
),
g AS (
  SELECT e.us, e.user_id,
         ((e.us - b.min_us) * {_GRID_MAX}) // GREATEST(b.max_us - b.min_us, 1) AS xg,
         ((e.user_id - b.min_u) * {_GRID_MAX}) // GREATEST(b.max_u - b.min_u, 1) AS yg
  FROM e CROSS JOIN b
),
z AS (
  SELECT us, user_id,
         ({_sql_morton('xg', 'yg')}) >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS bucket
  FROM g
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS min_us,
       CAST(MAX(us) AS BIGINT) AS max_us,
       CAST(MIN(user_id) AS BIGINT) AS min_user,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM z GROUP BY bucket
"""


def with_zorder_bucket(
    ev: DataFrame, us_col: Column, user_col: Column, out_col: str = "zbucket"
) -> DataFrame:
    """Input rows + the Morton-prefix bucket column — the clustering key
    the write path partitions on (write_zordered below)."""
    b = ev.agg(
        F.min(us_col).alias("_zmin_us"),
        F.max(us_col).alias("_zmax_us"),
        F.min(user_col).alias("_zmin_u"),
        F.max(user_col).alias("_zmax_u"),
    )
    g = ev.withColumn("_zus", us_col).withColumn("_zuid", user_col).crossJoin(
        F.broadcast(b)
    )
    xg = F.expr(
        f"((_zus - _zmin_us) * {_GRID_MAX}) div greatest(_zmax_us - _zmin_us, 1)"
    )
    yg = F.expr(
        f"((_zuid - _zmin_u) * {_GRID_MAX}) div greatest(_zmax_u - _zmin_u, 1)"
    )
    z = morton_interleave(xg, yg)
    return g.withColumn(
        out_col, F.shiftright(z, 2 * _Z_BITS - _Z_BUCKET_BITS)
    ).drop("_zus", "_zuid", "_zmin_us", "_zmax_us", "_zmin_u", "_zmax_u")


def zorder_buckets(
    ev: DataFrame, us_col: Column, user_col: Column
) -> DataFrame:
    """(us, user_id, bucket): Morton-prefix bucket assignment for every
    row — the stats grain z_io_zorder publishes."""
    return with_zorder_bucket(
        ev.select(us_col.alias("us"), user_col.alias("user_id")),
        F.col("us"),
        F.col("user_id"),
        out_col="bucket",
    )


def write_zordered(ev: DataFrame, path: str, us_col: Column, user_col: Column) -> None:
    """Write rows partitioned by the Morton bucket: each partition
    directory is a (time, user) rectangle, so its parquet/partition-level
    min/max stats prune on EITHER dimension. `candidate_buckets` turns a
    predicate + the z_io_zorder stats table into the partition filter —
    the zone-map read path, proven end-to-end in tests/test_zorder_r5.py."""
    with_zorder_bucket(ev, us_col, user_col).write.mode("overwrite").partitionBy(
        "zbucket"
    ).parquet(path)


def candidate_buckets(stats, lo: int, hi: int, dim: str = "user") -> list[int]:
    """Buckets whose [min, max] envelope intersects [lo, hi] on `dim`
    ('user' or 'us') — the zone-map pruning decision, computed from the
    bucket-cardinality stats table (<= 2^_Z_BUCKET_BITS rows)."""
    mn, mx = (f"min_{dim}", f"max_{dim}")
    return [
        int(r["bucket"])
        for r in stats.where(
            (F.col(mx) >= F.lit(lo)) & (F.col(mn) <= F.lit(hi))
        ).select("bucket").collect()
    ]


@register("z_io_zorder", _ZORDER_ORACLE, tags=("io", "layout"))
def z_io_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering stats over events: per Morton-prefix bucket, the
    row count and both dimensions' min/max — the data-skipping rectangles.
    Beyond-reference operator (lakehouse OPTIMIZE ZORDER shape)."""
    ev = load_table(spark, sf_dir, "events")
    z = zorder_buckets(ev, F.unix_micros(F.col("ts")), F.col("user_id"))
    return z.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("us").cast("long").alias("min_us"),
        F.max("us").cast("long").alias("max_us"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# z_io_zorder_read — the READ half of the z-order lever as a benched query:
# answer a user-range predicate THROUGH the zone map against the written
# layout, with the pruning contract enforced inside the query body (like
# z_bucketed_spine's zero-exchange raise).
#
# Layout + per-bucket stats are S19-memoized per scale (the write shuffle
# is paid once, exactly as OPTIMIZE ZORDER would be); each run reads the
# <= 2^_Z_BUCKET_BITS-row stats table, computes the candidate buckets for
# a data-derived mid-range user band (lo = 3*umax div 10, hi = 4*umax
# div 10 — deterministic in both engines), and reads ONLY those partition
# directories. The oracle answers the same band from the ORIGINAL events
# table, so the driver hash proves pruned-read == semantic answer.
# ---------------------------------------------------------------------------

ZORDERED_EVENTS = StateFamily("zordered_events")


def _zorder_layout(spark: SparkSession, sf_dir: str) -> tuple[str, DataFrame]:
    """(layout_path, stats_df): the z-ordered events layout and its
    per-bucket zone-map stats, built once per scale. The stats parquet is
    written in the same state family as the layout so they can never
    desync."""

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        write_zordered(
            ev.withColumn("us", F.unix_micros(F.col("ts"))).drop("ts"),
            os.path.join(tmp, "data"),
            F.col("us"),
            F.col("user_id"),
        )
        z_io_zorder(spark, sf_dir).coalesce(1).write.parquet(os.path.join(tmp, "stats"))

    path = ZORDERED_EVENTS.ensure(sf_dir, build)
    return os.path.join(path, "data"), read_parquet(spark, os.path.join(path, "stats"))


_ZREAD_ORACLE = """
WITH band AS (
  SELECT (3 * MAX(user_id)) // 10 AS lo, (4 * MAX(user_id)) // 10 AS hi
  FROM events
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events e CROSS JOIN band
WHERE e.user_id BETWEEN band.lo AND band.hi
GROUP BY 1
"""


@register("z_io_zorder_read", _ZREAD_ORACLE, tags=("io", "layout"), bench=True)
def z_io_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type aggregate over a mid-range user band, answered by
    reading ONLY the z-order buckets whose zone-map envelope intersects
    the band. The pruning contract is enforced in-path with raises (not
    asserts): the candidate set must skip >= 1/4 of the buckets and the
    band predicate must appear in the scan's PartitionFilters — a layout
    or planner regression fails correctness, not just a pytest pin."""
    layout, stats = _zorder_layout(spark, sf_dir)
    srows = stats.select("bucket", "min_user", "max_user").collect()  # <= 64 rows
    umax = max(int(r["max_user"]) for r in srows)
    lo, hi = (3 * umax) // 10, (4 * umax) // 10
    cands = [int(r["bucket"]) for r in srows if r["max_user"] >= lo and r["min_user"] <= hi]
    skipped = len(srows) - len(cands)
    if not cands or skipped < len(srows) // 4:
        raise RuntimeError(
            f"z-order zone map failed to prune: {len(cands)} candidates of "
            f"{len(srows)} buckets for user band [{lo}, {hi}]"
        )
    out = (
        read_parquet(spark, layout)
        .where(F.col("zbucket").isin(cands))
        .where(F.col("user_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("total_value"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters" not in plan or "zbucket" not in plan.split("PartitionFilters", 1)[1][:400]:
        raise RuntimeError("zbucket predicate is not a PartitionFilter at the scan")
    return out
