"""End-to-end analytics DAG smoke over the fixture game: every stage's
output materializes, shapes/keys consistent, both cache and parquet
checkpoint paths."""

from __future__ import annotations

import pytest

from d3d_etl_spark.pbp.pipeline import run_analytics
from tests.test_pbp import _GAME
from tests.test_win_prob import _CODES, _we


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        (2024, "ncaa_3", 100, inning,
         text if half == "T" else None,
         text if half == "B" else None,
         seq)
        for seq, (inning, half, text) in enumerate(_GAME)
    ]
    return spark.createDataFrame(
        rows,
        "year int, division string, contest_id long, inning int, "
        "away_text string, home_text string, source_seq long",
    )


@pytest.fixture(scope="module")
def lookups(spark):
    rows = [
        (i, h, r, o, d, _we(i, h, r, o, d), 0.7)
        for i in range(1, 10)
        for h in ("Top", "Bottom")
        for r in _CODES
        for o in range(3)
        for d in range(-10, 11)
    ]
    lut = spark.createDataFrame(
        rows,
        "inning int, half string, runners string, outs int, score_diff int, "
        "win_expectancy double, leverage_index double",
    )
    return (
        lut.select("inning", "half", "runners", "outs", "score_diff", "win_expectancy"),
        lut.select("inning", "half", "runners", "outs", "score_diff", "leverage_index"),
    )


def test_full_dag(spark, raw, lookups):
    we, li = lookups
    lineups = spark.createDataFrame(
        [(100, "home", 1, "HP, A."), (100, "away", 1, "AP, B.")],
        "contest_id long, side string, pitch_order int, player_name string",
    )
    out = run_analytics(raw, pitching_lineups=lineups, win_expectancy=we, leverage_index=li)
    assert out.parsed.count() == len(_GAME)
    assert out.er_matrix.count() >= 1
    assert {r["events"] for r in out.linear_weights.collect()} >= {"single", "out", "walk"}
    assert out.with_metrics.count() == len(_GAME)
    assert out.guts.count() == 1
    assert out.batting.count() > 0
    assert out.situational.count() > 0
    assert out.clutch is not None and out.clutch.count() > 0
    assert out.pitching is not None and out.pitching.count() == 2


def test_full_dag_parquet_checkpoints(raw):
    """Without the optional inputs (lineups, WE/LI) the DAG still builds
    the boards and leaves clutch and pitching unset."""
    out = run_analytics(raw)
    assert out.clutch is None and out.pitching is None
    assert out.batting.count() > 0
