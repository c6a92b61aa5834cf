"""Leaderboard layer tests over the fixture game (hand-counted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from d3d_etl_spark.pbp.leaderboards import batting_board, clutch_board, situational_board
from d3d_etl_spark.pbp.parser import parse_pbp
from tests.test_pbp import _GAME


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [
        (2024, "ncaa_3", 100, inning,
         text if half == "T" else None,
         text if half == "B" else None,
         seq)
        for seq, (inning, half, text) in enumerate(_GAME)
    ]
    raw = spark.createDataFrame(
        rows,
        "year int, division string, contest_id long, inning int, "
        "away_text string, home_text string, source_seq long",
    )
    return parse_pbp(raw)


def test_batting_board_counts(parsed):
    board = {r["batter_name"]: r for r in batting_board(parsed).collect()}
    # JONES: 1B (p1), BB (p10) -> 2 PA, 1 H; the SB (p11) is not a PA
    jones = board["JONES, A."]
    assert (jones["pa"], jones["h"], jones["bb"], jones["so"]) == (2, 1, 1, 0)
    # DAVIS: 2B (p3) + 3B (p13) -> 2 PA, 2 H
    davis = board["DAVIS, C."]
    assert (davis["pa"], davis["h"], davis["b2"], davis["b3"]) == (2, 2, 1, 1)
    # BROWN: HR
    assert (board["BROWN, G."]["hr"], board["BROWN, G."]["pa"]) == (1, 1)
    # SMITH: BB (p2) + SO_WP (p12) -> so counts the strikeout even on reach
    smith = board["SMITH, B."]
    assert (smith["pa"], smith["bb"], smith["so"]) == (2, 1, 1)


def test_situational_splits(parsed):
    board = {r["batter_name"]: r for r in situational_board(parsed).collect()}
    # WILSON p5: bases NYY -> RISP PA (SF, no on-base); p15 IBB: bases NNY RISP, on base
    wilson = board["WILSON, E."]
    assert wilson["pa_risp"] == 2
    assert wilson["ob_pct_risp"] == pytest.approx(0.5)
    # BROWN's HR came with bases empty
    assert board["BROWN, G."]["pa_empty"] == 1
    assert board["BROWN, G."]["ob_pct_empty"] == pytest.approx(1.0)


def test_clutch_board_runs(parsed, spark):
    from d3d_etl_spark.pbp.win_prob import add_win_probability
    from tests.test_win_prob import _CODES, _we

    rows = [
        (i, h, r, o, d, _we(i, h, r, o, d), 0.5)
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
    we = lut.select("inning", "half", "runners", "outs", "score_diff", "win_expectancy")
    li = lut.select("inning", "half", "runners", "outs", "score_diff", "leverage_index")
    clutch = clutch_board(add_win_probability(parsed, we, li)).collect()
    assert len(clutch) > 0
    for r in clutch:
        # pos + neg decomposition covers the total
        total = (r["wpa_pos"] or 0.0) + (r["wpa_neg"] or 0.0)
        assert total == pytest.approx(r["wpa"], abs=1e-9)
        assert r["avg_li"] == pytest.approx(0.5)


def test_pitching_board_with_fill(parsed, spark):
    from d3d_etl_spark.pbp.leaderboards import pitching_board
    from d3d_etl_spark.pbp.pitchers import fill_pitchers

    lineups = spark.createDataFrame(
        [
            (100, "home", 1, "HOMESTARTER, H."),
            (100, "home", 2, "HOMERELIEF, R."),
            (100, "away", 1, "AWAYSTARTER, A."),
        ],
        "contest_id long, side string, pitch_order int, player_name string",
    )
    filled = parsed.join(
        fill_pitchers(parsed, lineups), ["contest_id", "play_id"]
    )
    board = {r["pitcher_name"]: r for r in pitching_board(filled).collect()}
    # home starter pitched both Top halves (no sub in the fixture game)
    hs = board["HOMESTARTER, H."]
    # Top 1: 3 outs; Top 2: 3 outs -> 6 outs recorded
    assert hs["outs_recorded"] == 6
    assert hs["so"] == 2          # MILLER K (p4) + SMITH SO_WP (p12)
    assert hs["runs_allowed"] == 4
    assert hs["entered_in_relief"] == 0
    # away pitcher faced Bottom 1st: HR + HBP + GDP (2 outs; the fixture's
    # half ends there without a 3rd out)
    ap = board["AWAYSTARTER, A."]
    assert ap["outs_recorded"] == 2
    assert ap["runs_allowed"] == 1


def test_rolling_form_board(parsed):
    from d3d_etl_spark.pbp.leaderboards import rolling_form_board

    board = {r["batter_name"]: r for r in rolling_form_board(parsed, n=2).collect()}
    # JONES: PAs = 1B (ob), BB (ob) -> latest roll over last 2 = 1.0;
    # prev window (PAs -3..-2) incomplete -> null
    jones = board["JONES, A."]
    assert jones["total_pa"] == 2
    assert jones["roll_ob"] == 1.0
    assert jones["roll_ob_prev"] is None and jones["trend"] is None
    # MILLER: SO + PO -> 0.0 over last 2
    assert board["MILLER, D."]["roll_ob"] == 0.0
    # single-PA batters have no complete 2-PA window
    assert board["BROWN, G."]["roll_ob"] is None


def test_batted_ball_board(parsed):
    from d3d_etl_spark.pbp.leaderboards import batted_ball_board

    board = {r["batter_name"]: r for r in batted_ball_board(parsed).collect()}
    # TAYLOR: GO (p6) -> 1 gb; the FC (p16) and CS (p17) are not batted-ball contact
    assert (board["TAYLOR, F."]["gb"], board["TAYLOR, F."]["batted_balls"]) == (1, 1)
    # WILSON: SF (p5) counts as fb
    assert board["WILSON, E."]["fb"] == 1
    # MILLER: PO (p14) counts as pu; SO (p4) is not contact
    m = board["MILLER, D."]
    assert (m["pu"], m["batted_balls"], m["pu_pct"]) == (1, 1, 1.0)
    # LEWIS: GDP (p9) counts as gb
    assert board["LEWIS, I."]["gb"] == 1


def test_baserunning_runner_only_in_list_sorted(spark):
    """The runner-only IN-list is built in sorted order, so the plan text of
    every query over baserunning_board is the same under any
    PYTHONHASHSEED (it was the iteration order of a Python set)."""
    from d3d_etl_spark.pbp.leaderboards import baserunning_board

    plays = spark.createDataFrame(
        [("ncaa_3", 2024, "SB", "JONES, A. stole second.")],
        "division string, year int, event_type string, play_text string",
    )
    plan = baserunning_board(plays)._jdf.queryExecution().analyzed().toString()
    assert "IN (ADV,BK,CS,DI,ERR,PB,PK,PKE,SB,WP)" in plan, plan


def test_pa_in_list_sorted(parsed):
    """PA_EVENTS is a sorted tuple, so the plate-appearance IN-list reads
    the same under any PYTHONHASHSEED in the parse (bat order) and in the
    boards, and the per_gateway trees that hold it never freeze one
    process's set order."""
    pa_in = (
        "IN (1B,2B,3B,BB,CI,DP,FC,FO,FOUL,GDP,GO,HBP,HR,IBB,IF,LO,PO,ROE,"
        "SF,SH,SO,SO_PB,SO_SAFE,SO_WP,TP)"
    )
    for df in (parsed, batting_board(parsed), situational_board(parsed)):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert pa_in in plan, plan


def test_baserunning_board(parsed):
    from d3d_etl_spark.pbp.leaderboards import baserunning_board

    board = {r["runner_name"]: r for r in baserunning_board(parsed).collect()}
    # JONES: stole second (p11, runner-only seg 0), advanced x2 (p2, p12),
    # scored x2 (p3, p13)
    j = board["JONES, A."]
    assert (j["sb"], j["advances"], j["runs_scored"]) == (1, 2, 2)
    assert j["sb_pct"] == 1.0
    # TAYLOR: caught stealing (p17, runner-only seg 0 matches "caught stealing")
    assert board["TAYLOR, F."]["cs"] == 1
    # SMITH: advanced to third (p2... no — p2 advances JONES); SMITH advanced
    # to third on p3, scored on p5 and p13
    s = board["SMITH, B."]
    assert (s["advances"], s["runs_scored"]) == (1, 2)
    # CLARK: forced out at second on the GDP (p9)
    assert board["CLARK, H."]["outs_on_bases"] == 1


def test_team_rollup_sums_and_rates(spark):
    """Team board counts = sum of its players' counts; rates re-derived
    from sums (never summed)."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.pbp.leaderboards import team_batting_board
    from d3d_etl_spark.pbp.parser import parse_pbp
    from d3d_etl_spark.pbp.synth import generate_games_df

    raw = (
        generate_games_df(spark, 6, seed=11)
        .withColumn("division", F.lit("d3"))
        .withColumn("year", F.lit(2024))
        # synth has no team ids; the rollup groups on batting_team
        .withColumn("away_team_id", F.concat(F.lit("A"), F.col("contest_id") % 3))
        .withColumn("home_team_id", F.concat(F.lit("H"), F.col("contest_id") % 3))
    )
    plays = parse_pbp(raw)
    team = team_batting_board(plays)
    rows = team.collect()
    assert len(rows) >= 2  # home + away team ids exist per game
    total_pa_team = sum(r["pa"] for r in rows)

    from d3d_etl_spark.pbp.leaderboards import batting_board

    total_pa_player = sum(r["pa"] for r in batting_board(plays).collect())
    assert total_pa_team == total_pa_player
    for r in rows:
        want = (r["h"] + r["bb"] + r["hbp"]) / r["pa"] if r["pa"] else None
        if want is not None:
            assert abs(r["ob_pct"] - want) < 1e-9


def test_handedness_splits_invariants(spark, sf_dir):
    """Splits board structural invariants: hands partition PA (pitcher
    throws is binary, so batter splits must sum exactly; batters include
    switch hitters, so pitcher splits may undercount), and the team grain
    totals equal the summed player grain."""
    import d3d_etl_spark.queries as qmod
    from d3d_etl_spark.queries.registry import REGISTRY
    from pyspark.sql import functions as F

    qmod.load_all()
    board = REGISTRY["domain_splits"].fn(spark, sf_dir).cache()
    bat = board.where("grain = 'batter'")
    r = bat.select(
        F.sum((F.col("pa_vs_l") + F.col("pa_vs_r") != F.col("pa_overall")).cast("int")).alias("bad"),
        F.sum("pa_overall").alias("pa_total"),
    ).first()
    assert r["bad"] == 0, "throws is L/R-only: LHP+RHP PA must equal overall"
    assert r["pa_total"] > 0

    pit = board.where("grain = 'pitcher'")
    bad_pit = pit.where(
        F.col("pa_vs_l") + F.col("pa_vs_r") > F.col("pa_overall")
    ).count()
    assert bad_pit == 0, "L+R batters can never exceed overall PA"

    team = board.where("grain = 'batting_team'")
    assert team.agg(F.sum("pa_overall")).first()[0] == r["pa_total"]
