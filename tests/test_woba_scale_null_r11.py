"""Degenerate woba_scale = NULL parity.

The reference emits np.nan when the count-weighted reaching-events mean
is zero (processors/get_linear_weights.py:137:
``woba_scale = league_obp / denominator if denominator != 0 else np.nan``).
NaN's engine image is NULL — a 0.0 fill would silently zero downstream
wOBA where the reference's NaN propagates visibly. Real corpora never hit
the arm (the registry hashes cannot see it); these fixtures force it in
the engine (pbp/metrics.linear_weights) and in its one SQL mirror
(queries/domain._run_value_ctes).
"""

from __future__ import annotations

import duckdb


def _degenerate_plays(spark):
    """A league whose every play has re24 = 0: each reaching event's
    linear weight equals the out weight, so lw_above_outs = 0 everywhere
    and the scale's weighted numerator quantizes to exactly 0."""
    rows = [
        ("d1", 2024, et, 0.0)
        for et in ("BB", "HBP", "1B", "2B", "3B", "HR", "SO", "GO", "FO")
        for _ in range(3)
    ]
    return spark.createDataFrame(
        rows, "division string, year int, event_type string, re24 double"
    )


def test_degenerate_woba_scale_is_null_spark(spark):
    from pyspark.sql import functions as F

    from d3d_etl_spark.pbp.metrics import REACHING, linear_weights

    lw = linear_weights(_degenerate_plays(spark), lg_obp=0.360)
    reaching = lw.where(F.col("events").isin(*REACHING)).collect()
    assert reaching, "fixture produced no reaching events"
    # the NULL scale propagates: normalized_weight is NULL (NaN image),
    # never a silent 0.0
    assert all(r["normalized_weight"] is None for r in reaching), reaching[:3]
    # out rows keep their explicit 0.0 (the reference zeroes non-reaching)
    outs = lw.where(F.col("events") == "out").collect()
    assert all(r["normalized_weight"] == 0.0 for r in outs)


def test_degenerate_woba_scale_is_null_duckdb():
    """The run-value SQL mirror every registry oracle embeds yields a NULL
    scale in DuckDB on a league whose every play has re24 = 0."""
    from d3d_etl_spark.queries.domain import _run_value_ctes

    rows = ", ".join(
        f"('d1', 2024, '{et}', 'NNN', 0, 'NNN', 1, 0, 0, 1)"
        for et in ("BB", "HBP", "1B", "2B", "3B", "HR", "SO", "GO", "FO")
        for _ in range(3)
    )
    src = (
        f"(SELECT * FROM (VALUES {rows}) t(division, year, event_type, bases_before,"
        " outs_before, bases_after, outs_after, runs_roi, runs_on_play, outs_on_play))"
    )
    scale = duckdb.sql(f"WITH {_run_value_ctes(src)} SELECT woba_scale FROM scale").fetchall()
    assert scale == [(None,)]


def test_oracle_strings_carry_the_null_arm():
    """Pin the oracle text: the one scale CTE fills NULL, not 0.0, on the
    degenerate arm (so a regression to the old fill cannot pass silently —
    the arm is invisible to the hash gate on real data), and the
    end-to-end WAR oracle embeds it."""
    from d3d_etl_spark.queries.domain import _run_value_ctes
    from d3d_etl_spark.queries.stateful import _pbp_war_oracle

    ctes = _run_value_ctes()
    assert "ELSE NULL END AS woba_scale" in ctes
    assert "ELSE 0.0 END AS woba_scale" not in ctes
    assert ctes in _pbp_war_oracle()
