"""Run-expectancy metrics + linear weights (SURVEY.md §3.1 stages 4-5).

- expected_runs_long: the (bases, outs) -> ERV lookup in long form.
- add_re24: per-play run value = RE(after) - RE(before) + runs, with the
  reference's end-of-inning key rewrite (add_pbp_metrics.py:174-179: a play
  that records the 3rd out transitions to RE = 0, not to a lookup key) —
  expressed as a `when` rewrite before a broadcast lookup join (J7).
- linear_weights: mean run value per event class + the wOBA normalization
  (get_linear_weights.py:94-151): weights above outs, scaled so the
  league's weighted on-base numerator matches league OBP.

The ER lookup is 24 cells -> always broadcast; no shuffle is added to the
play table beyond what parsing already did.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.functions.trees import cols, per_gateway

# event-code -> linear-weight event class (reference linear-weights rows)
LW_CLASSES: dict[str, str] = {
    "BB": "walk",
    "HBP": "hit_by_pitch",
    "1B": "single",
    "2B": "double",
    "3B": "triple",
    "HR": "home_run",
    "SO": "out", "GO": "out", "FO": "out", "LO": "out", "PO": "out",
    "GDP": "out", "SF": "out", "SH": "out",
    "FOUL": "out", "IF": "out", "DP": "out", "TP": "out",
}

REACHING = ("walk", "hit_by_pitch", "single", "double", "triple", "home_run")


_PLAY_KEYS = ["division", "year", "bases_before", "outs_before"]
_NEXT_KEYS = ["division", "year", "bases_after", "outs_after"]


@per_gateway
def _er_long_trees() -> tuple[Column, list[Column], Column]:
    return (
        F.col("outs_before") <= 2,
        [
            *cols("division", "year"),
            F.col("bases_before").alias("bases"),
            F.col("outs_before").alias("outs"),
        ],
        (F.sum("runs_roi").cast("double") / F.count("*")).alias("erv"),
    )


def expected_runs_long(parsed: DataFrame) -> DataFrame:
    """(division, year, bases, outs, erv) from observed plays — the long
    form of the RE24 matrix (get_er_matrix.py:17-24), exact integer mean."""
    live, cell, erv = _er_long_trees()
    return parsed.where(live).groupBy(*cell).agg(erv)


@per_gateway
def _re24_trees() -> tuple[list[Column], list[Column], Column, Column]:
    """(state-before lookup columns, state-after lookup columns, re_after,
    re24)."""
    keys = list(cols("division", "year"))
    return (
        keys + [
            F.col("bases").alias("bases_before"),
            F.col("outs").alias("outs_before"),
            F.col("erv").alias("re_before"),
        ],
        keys + [
            F.col("bases").alias("bases_after"),
            F.col("outs").alias("outs_after"),
            F.col("erv").alias("_re_after_lookup"),
        ],
        F.when(F.col("outs_after") >= 3, F.lit(0.0)).otherwise(
            F.coalesce("_re_after_lookup", F.lit(0.0))
        ),
        F.col("re_after")
        - F.coalesce("re_before", F.lit(0.0))
        + F.col("runs_on_play").cast("double"),
    )


def add_re24(parsed: DataFrame, er_long: DataFrame) -> DataFrame:
    """Per-play run value: RE(state after) - RE(state before) + runs.

    End-of-inning rewrite: outs_after >= 3 -> RE_after = 0 (the inning is
    over; there is no successor state to look up).
    """
    before, after, re_after, re24 = _re24_trees()
    return (
        parsed.join(F.broadcast(er_long.select(*before)), _PLAY_KEYS, "left")
        .join(F.broadcast(er_long.select(*after)), _NEXT_KEYS, "left")
        .withColumn("re_after", re_after)
        .drop("_re_after_lookup")
        .withColumn("re24", re24)
    )


def woba_scale(lg_obp: float) -> Column:
    """lgOBP over the count-weighted mean reaching weight, as an aggregate
    over linear-weights rows (events, count, linear_weights_above_outs).
    The weighted numerator sums exact 1e-9-scaled long·count products, so
    it is order-free. A league whose weighted mean quantizes to exactly 0
    gets NULL: the reference's NaN, whose engine image is NULL, so it
    propagates visibly instead of zeroing every weight; every oracle
    scale CTE carries the same guard."""
    wnum = F.sum(
        F.round(F.col("linear_weights_above_outs") * 1_000_000_000).cast("long")
        * F.col("count")
    )
    return F.when(
        wnum != 0, F.lit(lg_obp) / (wnum.cast("double") / F.sum("count") / 1e9)
    ).otherwise(F.lit(None).cast("double"))


@per_gateway
def _lw_trees(lg_obp: float) -> tuple:
    """(event class, classed filter, per-event aggregates, out filter, out
    weight, above-outs weight, reaching filter, wOBA scale, normalized
    weight, published columns)."""
    events = F.col("events")
    reaching = events.isin(*REACHING)
    n = F.count("*")
    return (
        F.coalesce(*[F.when(F.col("event_type") == k, v) for k, v in LW_CLASSES.items()]),
        events.isNotNull(),
        [
            n.alias("count"),
            # never-sum-raw-doubles (functions/money.py): a raw double sum
            # of re24 depends on partition order; 1e-9-scaled longs summed
            # and divided once give the same weight for any shuffle layout
            # (and mirror in SQL)
            (
                F.sum(F.round(F.col("re24") * 1_000_000_000).cast("long")).cast("double")
                / n
                / 1e9
            ).alias("linear_weights_above_average"),
        ],
        events == "out",
        [*cols("division", "year"), F.col("linear_weights_above_average").alias("_out_lw")],
        F.col("linear_weights_above_average") - F.coalesce("_out_lw", F.lit(0.0)),
        reaching,
        woba_scale(lg_obp).alias("_woba_scale"),
        F.when(reaching, F.col("linear_weights_above_outs") * F.col("_woba_scale")).otherwise(
            F.lit(0.0)
        ),
        cols(
            "division", "year", "events", "count",
            "linear_weights_above_average", "linear_weights_above_outs",
            "normalized_weight",
        ),
    )


def linear_weights(plays_with_re24: DataFrame, lg_obp: float) -> DataFrame:
    """Per-event mean run value + wOBA normalization.

    Output shape mirrors the reference table (FIXTURES.md §14): events,
    count, linear_weights_above_average, linear_weights_above_outs,
    normalized_weight.
    """
    (
        event_class, classed_only, per_event_aggs, is_out, out_weight, above_outs,
        reaching, scale, normalized, published,
    ) = _lw_trees(lg_obp)
    classed = plays_with_re24.withColumn("events", event_class).where(classed_only)
    per_event = classed.groupBy("division", "year", "events").agg(*per_event_aggs)
    out_w = per_event.where(is_out).select(*out_weight)
    lw = per_event.join(F.broadcast(out_w), ["division", "year"], "left").withColumn(
        "linear_weights_above_outs", above_outs
    )
    scale_df = lw.where(reaching).groupBy("division", "year").agg(scale)
    return (
        lw.join(F.broadcast(scale_df), ["division", "year"], "left")
        .withColumn("normalized_weight", normalized)
        .select(*published)
    )
