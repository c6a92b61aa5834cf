"""League ("guts") constants per (division, year) — reference get_guts.py:
120-184 derives the wOBA weights, league rates and run-to-win conversions
that parameterize WAR. One aggregation over the play table + the linear
weights (already derived), producing the GUTS_CONSTANTS schema
(schemas.py / FIXTURES.md §12).

Run-value constants use the standard public (FanGraffs-style) forms the
reference also uses: runs_out = -lw(out); runCS = -(2·runs_out_per_out +
0.075); runSB = 0.2; runs_win = 9·(lg R/IP)·1.5 + 3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.functions.math import safe_div
from d3d_etl_spark.functions.trees import cols, per_gateway
from d3d_etl_spark.pbp.events import PA_EVENTS
from d3d_etl_spark.pbp.metrics import REACHING, woba_scale

_W_EVENTS = {
    "wbb": "walk", "whbp": "hit_by_pitch", "w1b": "single",
    "w2b": "double", "w3b": "triple", "whr": "home_run",
}


@per_gateway
def _guts_trees(lg_obp: float) -> tuple:
    """(league aggregates, pivot values, pivot aggregate, out filter, out
    weight, reaching filter, wOBA scale, published columns)."""
    ev = F.col("event_type")
    events = F.col("events")
    runs_pa = safe_div(F.col("lg_runs").cast("double"), F.col("lg_pa"))
    runs_out = -F.coalesce(F.col("_lw_out"), F.lit(-0.1))
    rpi = safe_div(F.col("lg_runs").cast("double") * 3.0, F.col("lg_outs"))  # runs per inning
    return (
        [
            F.sum("runs_on_play").alias("lg_runs"),
            F.sum("outs_on_play").alias("lg_outs"),
            F.sum(F.when(ev.isin(*PA_EVENTS), 1).otherwise(0)).alias("lg_pa"),
            F.sum(F.when(ev == "SB", 1).otherwise(0)).alias("lg_sb"),
            F.sum(F.when(ev == "CS", 1).otherwise(0)).alias("lg_cs"),
            F.sum(
                F.when(ev.isin("1B", "2B", "3B", "HR", "BB", "IBB", "HBP"), 1).otherwise(0)
            ).alias("lg_ob"),
        ],
        list(_W_EVENTS.values()) + ["out"],
        F.first("normalized_weight"),
        events == "out",
        [*cols("division", "year"), F.col("linear_weights_above_average").alias("_lw_out")],
        events.isin(*REACHING),
        # the same exact weighted form linear_weights uses: averaging the
        # per-event normalized/lwao ratios is the same quantity in real
        # arithmetic but an order-dependent double mean in IEEE
        woba_scale(lg_obp).alias("woba_scale"),
        [
            *cols("division", "year"),
            *[F.coalesce(F.col(evname), F.lit(0.0)).alias(w) for w, evname in _W_EVENTS.items()],
            F.lit(lg_obp).alias("woba"),
            F.col("woba_scale"),
            F.lit(0.2).alias("runs_sb"),
            (-(2 * runs_out + 0.075)).alias("runs_cs"),
            safe_div(F.col("lg_cs").cast("double"), F.col("lg_sb") + F.col("lg_cs")).alias(
                "cs_rate"
            ),
            runs_pa.alias("runs_pa"),
            runs_out.alias("runs_out"),
            (9.0 * rpi * 1.5 + 3.0).alias("runs_win"),
            F.coalesce(F.col("_cfip"), F.lit(3.10)).alias("cfip"),
        ],
    )


@per_gateway
def _cfip_trees() -> tuple[Column, Column]:
    """(league cFIP from season pitching totals, its absent-input fill)."""
    from d3d_etl_spark.functions import saber
    from d3d_etl_spark.functions.math import ip_to_thirds

    # published at 3 decimals exactly like the reference
    # (get_guts.py round(lg_era - fip_components, 3))
    return F.round(
        saber.cfip(
            F.sum("er"), F.sum("hr_a"), F.sum("bb"), F.sum("hbp"),
            F.sum("so"), F.sum(ip_to_thirds(F.col("ip"))),
        ),
        3,
    ).alias("_cfip"), F.lit(None).cast("double")


def guts_constants(
    plays: DataFrame,
    lw: DataFrame,
    lg_obp: float = 0.360,
    cube_pitching: DataFrame | None = None,
) -> DataFrame:
    """(division, year) -> league constants row.

    `plays`: parsed plays (event_type, runs_on_play, outs_on_play).
    `lw`: linear_weights output (pbp/metrics.linear_weights).
    `cube_pitching` (optional): season pitching totals (er, hr_a, bb, hbp,
    so, ip as the base-3 codec) — when given, cFIP derives from league
    totals exactly like the reference (get_guts.py:103-117:
    lgERA - FIP components per IP); otherwise the documented default
    constant stands in.
    """
    (
        league_aggs, weight_events, weight, is_out, out_weight, reaching, scale, published,
    ) = _guts_trees(lg_obp)
    league = plays.groupBy("division", "year").agg(*league_aggs)
    # wOBA weights: pivot the normalized linear weights to one row per league
    weights = lw.groupBy("division", "year").pivot("events", weight_events).agg(weight)
    out_lw = lw.where(is_out).select(*out_weight)
    scale_df = lw.where(reaching).groupBy("division", "year").agg(scale)
    joined = (
        league.join(F.broadcast(weights), ["division", "year"], "left")
        .join(F.broadcast(out_lw), ["division", "year"], "left")
        .join(F.broadcast(scale_df), ["division", "year"], "left")
    )
    cfip, no_cfip = _cfip_trees()
    if cube_pitching is not None:
        fip_const = cube_pitching.groupBy("division", "year").agg(cfip)
        joined = joined.join(F.broadcast(fip_const), ["division", "year"], "left")
    else:
        joined = joined.withColumn("_cfip", no_cfip)
    return joined.select(*published)
