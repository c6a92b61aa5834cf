"""Z-order clustering pins (z_io_zorder): the rectangle property that
makes Morton bucketing skip on BOTH dimensions, quantified against
time-only bucketing on the real events table."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_zorder_rectangles_skip_both_dimensions(spark, sf_dir):
    """Each Morton-prefix bucket is a small rectangle in (time, user)
    space: with 6 prefix bits (3 per dimension) a bucket spans ~1/8 of
    each range. Time-only bucketing with the SAME bucket count spans the
    FULL user range per bucket — z-order must cut the mean user-span at
    least 4x while keeping time spans bounded, which is exactly the
    min/max-stats pruning advantage."""
    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.queries.zorder import z_io_zorder

    out = z_io_zorder(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "user_id"
    ).toPandas()
    u_range = ev.user_id.max() - ev.user_id.min()
    t_range = ev.us.max() - ev.us.min()
    n_buckets = len(out)

    # weighted mean spans over z-buckets
    w = out.n_events / out.n_events.sum()
    z_uspan = float(((out.max_user - out.min_user) * w).sum())
    z_tspan = float(((out.max_us - out.min_us) * w).sum())

    # time-only bucketing at the same bucket count
    ev = ev.sort_values("us").reset_index(drop=True)
    ev["tb"] = (ev.index * n_buckets // len(ev)).astype(int)
    g = ev.groupby("tb").agg(
        n=("us", "size"), umin=("user_id", "min"), umax=("user_id", "max"),
        tmin=("us", "min"), tmax=("us", "max"),
    )
    tw = g.n / g.n.sum()
    t_uspan = float(((g.umax - g.umin) * tw).sum())

    # the headline: z-order buckets prune on user predicates, time buckets
    # cannot (they span ~the full user range)
    assert z_uspan <= t_uspan / 4, (z_uspan, t_uspan)
    # and z-order's time spans stay bounded rectangles, not the full range
    assert z_tspan <= 0.5 * t_range, (z_tspan, t_range)
    # sanity: the bucketing actually partitioned the data
    assert out.n_events.sum() == len(ev)
    assert n_buckets > 8


def test_morton_interleave_roundtrip(spark):
    """Bit-exact Morton interleave: known coordinates produce the textbook
    keys, and prefix buckets respect the quadtree structure."""
    from d3d_etl_spark.queries.zorder import morton_interleave

    rows = [(0, 0, 0), (1, 1, 0), (2, 0, 1), (3, 1, 1), (4, 0b11, 0b11), (5, 0xFFFF, 0xFFFF)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        r.id: r.z
        for r in df.select("id", morton_interleave(F.col("x"), F.col("y")).alias("z")).collect()
    }
    assert got[0] == 0
    assert got[1] == 1          # x bit 0 -> position 0
    assert got[2] == 2          # y bit 0 -> position 1
    assert got[3] == 3
    assert got[4] == 0b1111
    assert got[5] == (1 << 32) - 1


def test_zorder_write_and_zone_map_pruning(spark, sf_dir, tmp_path):
    """The write path, end-to-end: events written partitioned by Morton
    bucket, a user-dimension predicate answered by reading ONLY the
    buckets whose stats envelope intersects it — result identical to the
    full scan, partitions read cut by >= 4x, and the physical plan shows
    the partition filter (real pruning, not a post-filter)."""
    import os

    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.queries.zorder import (
        candidate_buckets,
        write_zordered,
        z_io_zorder,
    )

    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(str(tmp_path), "zev")
    write_zordered(ev, path, F.unix_micros(F.col("ts")), F.col("user_id"))

    stats = z_io_zorder(spark, sf_dir)
    # derive a non-vacuous mid-range user band from the data (sf0.001 has
    # users 0-14, sf0.01 0-149 — a hardcoded band can silently select
    # nothing and pass every equality trivially)
    umax = int(ev.agg(F.max("user_id")).collect()[0][0])
    lo, hi = max(1, int(0.3 * umax)), max(2, int(0.4 * umax))
    cands = candidate_buckets(stats, lo, hi, dim="user")
    total = stats.count()
    assert cands, (lo, hi)
    assert len(cands) <= total / 4, (len(cands), total)

    back = spark.read.parquet(path)
    pruned = back.where(F.col("zbucket").isin(cands)).where(
        F.col("user_id").between(lo, hi)
    )
    full = back.where(F.col("user_id").between(lo, hi))
    full_rows = sorted(r.event_id for r in full.collect())
    assert full_rows, (lo, hi)  # the predicate actually selects data
    assert sorted(r.event_id for r in pruned.collect()) == full_rows
    # the predicate must be a PARTITION filter at the scan, not a
    # post-scan Filter node — a post-filter would read every file and make
    # the pin vacuous
    import re

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*zbucket[^\]]*\]", plan)
    assert m, plan[:1500]


def test_zorder_read_query_prunes_in_path(spark, sf_dir):
    """z_io_zorder_read enforces its own pruning contract with raises —
    running it green IS the pin (candidates skip >= 1/4 of buckets,
    zbucket is a PartitionFilter at the scan). Also: the result equals the
    same band aggregated from the raw events table, and the memoized
    layout makes the second run plan-identical."""
    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.queries.zorder import z_io_zorder_read
    from d3d_etl_spark.functions.money import cents

    out = z_io_zorder_read(spark, sf_dir).toPandas().set_index("event_type")
    assert len(out), "band selected nothing"

    ev = load_table(spark, sf_dir, "events")
    umax = int(ev.agg(F.max("user_id")).collect()[0][0])
    lo, hi = (3 * umax) // 10, (4 * umax) // 10
    want = (
        ev.where(F.col("user_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.sum(cents(F.col("value"))).cast("double") / 100.0).alias("total_value"),
        )
        .toPandas()
        .set_index("event_type")
    )
    assert out.sort_index().equals(want.sort_index())

    again = z_io_zorder_read(spark, sf_dir).toPandas().set_index("event_type")
    assert again.sort_index().equals(out.sort_index())
