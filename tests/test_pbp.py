"""PBP pipeline tests: hand-traced fixture game + FIXTURES.md §15 invariants.

The fixture covers the narration grammar classes from FIXTURES.md §1:
hits (1B/2B/3B/HR), BB/IBB/HBP, SO and SO-reached-on-WP, ground/fly/pop
outs, SAC fly, fielder's choice, GDP, SB/CS, multi-segment runner
advances/scoring/outs — with every play's (bases_before, outs_before,
runs_on_play) hand-computed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from d3d_etl_spark.pbp.parser import expected_runs_matrix, parse_pbp

_GAME = [
    # (inning, half, text)  — half: T=away bats (away_text), B=home
    (1, "T", "JONES, A. singled to left field"),
    (1, "T", "SMITH, B. walked; JONES, A. advanced to second"),
    (1, "T", "DAVIS, C. doubled; JONES, A. scored; SMITH, B. advanced to third"),
    (1, "T", "MILLER, D. struck out swinging"),
    (1, "T", "WILSON, E. flied out to cf, SAC, RBI; SMITH, B. scored"),
    (1, "T", "TAYLOR, F. grounded out to ss"),
    (1, "B", "BROWN, G. homered, RBI"),
    (1, "B", "CLARK, H. hit by pitch"),
    (1, "B", "LEWIS, I. grounded into double play; CLARK, H. out at second"),
    (2, "T", "JONES, A. walked"),
    (2, "T", "JONES, A. stole second"),
    (2, "T", "SMITH, B. struck out, reached first on a wild pitch; JONES, A. advanced to third"),
    (2, "T", "DAVIS, C. tripled; JONES, A. scored; SMITH, B. scored"),
    (2, "T", "MILLER, D. popped up to 2b"),
    (2, "T", "WILSON, E. intentionally walked"),
    (2, "T", "TAYLOR, F. reached on a fielder's choice; DAVIS, C. out at home; WILSON, E. advanced to second"),
    (2, "T", "TAYLOR, F. caught stealing, out at second c to 2b"),
]

# play_id -> (event, bases_before, outs_before, runs_on_play, bases_after)
_EXPECTED = {
    1: ("1B", "NNN", 0, 0, "YNN"),
    2: ("BB", "YNN", 0, 0, "YYN"),
    3: ("2B", "YYN", 0, 1, "NYY"),
    4: ("SO", "NYY", 0, 0, "NYY"),
    5: ("SF", "NYY", 1, 1, "NYN"),
    6: ("GO", "NYN", 2, 0, "NYN"),
    7: ("HR", "NNN", 0, 1, "NNN"),
    8: ("HBP", "NNN", 0, 0, "YNN"),
    9: ("GDP", "YNN", 0, 0, "NNN"),
    10: ("BB", "NNN", 0, 0, "YNN"),
    11: ("SB", "YNN", 0, 0, "NYN"),
    12: ("SO_WP", "NYN", 0, 0, "YNY"),
    13: ("3B", "YNY", 0, 2, "NNY"),
    14: ("PO", "NNY", 0, 0, "NNY"),
    15: ("IBB", "NNY", 1, 0, "YNY"),
    16: ("FC", "YNY", 1, 0, "YYN"),
    # 3rd out of the half arrives via CS; FSM removes the runner
    17: ("CS", "YYN", 2, 0, "NYN"),
}


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
    return parse_pbp(raw).orderBy("play_id").collect()


def test_play_states(parsed):
    got = {
        r["play_id"]: (
            r["event_type"], r["bases_before"], r["outs_before"],
            r["runs_on_play"], r["bases_after"],
        )
        for r in parsed
    }
    assert got == _EXPECTED


def test_invariants(parsed):
    valid_codes = {"NNN", "YNN", "NYN", "YYN", "NNY", "YNY", "NYY", "YYY"}
    halves: dict[tuple, list] = {}
    for r in parsed:
        assert 0 <= r["outs_before"] <= 2
        assert r["outs_after"] <= 3
        assert r["bases_before"] in valid_codes
        assert r["bases_after"] in valid_codes
        halves.setdefault((r["inning"], r["half"]), []).append(r)
    for plays in halves.values():
        total = sum(p["runs_on_play"] for p in plays)
        assert all(p["runs_this_inn"] == total for p in plays)
        # runs_roi = runs from this play to end of the half-inning, inclusive
        rest = total
        for p in sorted(plays, key=lambda p: p["play_id"]):
            assert p["runs_roi"] == rest
            rest -= p["runs_on_play"]


def test_er_matrix_shape(spark, parsed):
    raw_rows = [
        (2024, "ncaa_3", 100, inning,
         text if half == "T" else None,
         text if half == "B" else None,
         seq)
        for seq, (inning, half, text) in enumerate(_GAME)
    ]
    raw = spark.createDataFrame(
        raw_rows,
        "year int, division string, contest_id long, inning int, "
        "away_text string, home_text string, source_seq long",
    )
    er = expected_runs_matrix(parse_pbp(raw))
    rows = {r["bases"]: r for r in er.collect()}
    assert set(er.columns) == {
        "division", "year", "bases", "erv_0", "erv_1", "erv_2",
        "prob_0", "prob_1", "prob_2",
    }
    # NNN with 0 outs observed at plays 1,7,8,10 -> roi = 2,1,0,2 -> ER 1.25
    assert rows["NNN"]["erv_0"] == pytest.approx(1.25)
    assert rows["NNN"]["prob_0"] == pytest.approx(0.75)


def test_forced_advance_cascades(spark):
    """Edge cases of the base-state force chain (reference columns.py:494-509):
    bases-loaded walk pushes every runner; a single pushes only the forced
    chain; a double does not move a runner on third."""
    from d3d_etl_spark.pbp.parser import parse_pbp

    game = [
        (1, "A singled"),
        (1, "B singled; A advanced to second"),
        (1, "C walked"),                       # loads the bases (forced)
        (1, "D walked; A scored"),             # bases-loaded walk: run forced in
        (1, "E doubled; B scored; C scored"),  # D holds 3rd? narration silent ->
                                               # displaced chain handles 2nd only
    ]
    raw = spark.createDataFrame(
        [(5, inning, t, None, seq) for seq, (inning, t) in enumerate(game)],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    ).withColumn("year", F.lit(2024)).withColumn("division", F.lit("x"))
    rows = {r["play_id"]: r for r in parse_pbp(raw).collect()}
    assert rows[1]["bases_after"] == "YNN"
    assert rows[2]["bases_after"] == "YYN"
    assert rows[3]["bases_after"] == "YYY"          # forced chain fills 3rd
    assert rows[4]["bases_before"] == "YYY"
    assert rows[4]["bases_after"] == "YYY"          # walk pushes, A scores off 3rd
    # double: B (2nd) and C (3rd after push)? narration says both scored;
    # D was pushed to... D walked into 1st, so E's double displaces D to 2nd+
    assert rows[5]["runs_on_play"] == 2
    assert rows[5]["bases_after"] in ("NYY", "YYN", "NYN")


def test_bat_order(parsed):
    """W8/W9: slot advances on PA events, non-PA rows inherit the current
    slot (play 11, JONES's steal, belongs to the play-10 walk's slot... the
    NEXT batter is due, so the steal row carries the last assigned slot)."""
    by_id = {r["play_id"]: r["bat_order"] for r in parsed}
    # Top 1st: six PAs in order
    assert [by_id[i] for i in range(1, 7)] == [1, 2, 3, 4, 5, 6]
    # Bottom 1st restarts the half's PA count
    assert [by_id[i] for i in (7, 8, 9)] == [1, 2, 3]
    # Top 2nd CONTINUES the away order across innings: walk=7, steal
    # inherits 7, SO_WP=8, 3B=9, then wraps: PO=1, IBB=2, FC=3
    assert [by_id[i] for i in range(10, 17)] == [7, 7, 8, 9, 1, 2, 3]
    # CS (play 17) inherits slot 3
    assert by_id[17] == 3


def test_narration_variants(spark):
    """Wider narration grammar: error-with-advance, pickoff at a base,
    runner advance on wild pitch, balk advances."""
    from d3d_etl_spark.pbp.parser import parse_pbp

    game = [
        (1, "A reached on a throwing error, advanced to second"),
        (1, "B walked"),
        (1, "C singled; A scored; B advanced to third"),
        (1, "B advanced to home on a wild pitch"),       # runner-only WP
        (1, "C picked off first, out at first p to 1b"),
        (1, "D walked"),
        (1, "D stole second, advanced to third on a throwing error"),
    ]
    raw = spark.createDataFrame(
        [(9, inning, t, None, seq) for seq, (inning, t) in enumerate(game)],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    ).withColumn("year", F.lit(2024)).withColumn("division", F.lit("x"))
    rows = {r["play_id"]: r for r in parse_pbp(raw).orderBy("play_id").collect()}
    assert rows[1]["event_type"] == "ROE"
    assert rows[1]["bases_after"] == "NYN"      # batter advanced to 2nd on error
    assert rows[2]["bases_after"] == "YYN"
    assert rows[3]["bases_after"] == "YNY"      # A scored, B->3rd, C on 1st
    assert rows[3]["runs_on_play"] == 1
    assert rows[4]["event_type"] == "WP"
    assert rows[4]["bases_after"] == "YNN"      # B scored from 3rd (run via 'home')
    assert rows[5]["event_type"] == "PK"
    assert rows[5]["outs_on_play"] == 1
    assert rows[5]["bases_after"] == "NNN"
    assert rows[7]["event_type"] == "SB"
    # stole second (further error advance is narration detail; state >= NYN)
    assert rows[7]["bases_after"] in ("NYN", "NNY")


def test_widened_grammar(spark):
    """New narration classes (reference regexes.py:57-145 parity): strikeout-
    safe variants, lined-into-DP, triple play, fouled out, infield fly,
    dropped foul, defensive indifference, pickoff error, balk advance,
    advanced-to-home run counting, RBI fallback, explicit no-play."""
    from d3d_etl_spark.pbp.parser import parse_pbp

    game = [
        (1, "A struck out, reached first on a dropped third strike"),
        (1, "Mound visit by head coach"),
        (1, "B singled; A advanced to second"),
        (1, "C lined into a double play; B out at first"),          # A stays on 2
        (1, "A advanced to third on defensive indifference"),
        (1, "D walked"),
        (1, "D picked off first, advanced to second on a throwing error"),
        (1, "E fouled out to c"),                                    # 3rd out
        (2, "A walked"),
        (2, "B dropped foul ball, error on 3b"),                     # no play on batter
        (2, "B singled; A advanced to second"),
        (2, "C infield fly to ss"),
        (2, "Balk; A advanced to third; B advanced to second"),
        (2, "C grounded out, 2 RBI"),                                # RBI fallback
        (3, "A walked"),
        (3, "B walked; A advanced to second"),
        (3, "C grounded into a triple play; A out at third; B out at second"),
    ]
    raw = spark.createDataFrame(
        [(11, inning, t, None, seq) for seq, (inning, t) in enumerate(game)],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    ).withColumn("year", F.lit(2024)).withColumn("division", F.lit("x"))
    rows = {r["play_id"]: r for r in parse_pbp(raw).orderBy("play_id").collect()}

    assert rows[1]["event_type"] == "SO_SAFE"
    assert rows[1]["outs_on_play"] == 0
    assert rows[1]["bases_after"] == "YNN"
    assert rows[2]["event_type"] == "NP"
    assert rows[2]["bases_after"] == "YNN"
    assert rows[4]["event_type"] == "DP"
    assert rows[4]["outs_on_play"] == 2
    assert rows[4]["bases_after"] == "NYN"          # A holds 2nd, B doubled off
    assert rows[5]["event_type"] == "DI"
    assert rows[5]["bases_after"] == "NNY"
    assert rows[7]["event_type"] == "PKE"
    assert rows[7]["outs_on_play"] == 0
    assert rows[7]["bases_after"] == "NYY"          # D safe at 2nd, A on 3rd
    assert rows[8]["event_type"] == "FOUL"
    assert rows[8]["outs_on_play"] == 1
    assert rows[8]["outs_after"] == 3

    assert rows[10]["event_type"] == "FOUL_ERR"
    assert rows[10]["outs_on_play"] == 0
    assert rows[10]["bases_after"] == "YNN"         # A still on 1st, B still up
    assert rows[12]["event_type"] == "IF"
    assert rows[12]["outs_on_play"] == 1
    assert rows[13]["event_type"] == "BK"
    assert rows[13]["bases_before"] == "YYN"
    assert rows[13]["bases_after"] == "NYY"
    assert rows[14]["runs_on_play"] == 2            # no 'scored' -> 2 RBI fallback

    assert rows[17]["event_type"] == "TP"
    assert rows[17]["outs_on_play"] == 3
    assert rows[17]["outs_after"] == 3
    assert rows[17]["bases_after"] == "NNN"


def test_source_score_runs_mode(spark):
    """Current-year branch (reference main.py:57-71): runs come from the
    feed's running-score DELTAS, not narration counting — a score jump on a
    play whose text narrates nothing still yields runs, and corrections
    (score decreasing) clip to 0."""
    from d3d_etl_spark.pbp.parser import parse_pbp_with_source_scores

    game = [
        # (inning, half, text, away_score, home_score)
        (1, "T", "A singled", 0, 0),
        (1, "T", "B doubled", 2, 0),       # feed says 2 runs; text says none
        (1, "T", "C struck out swinging", 2, 0),
        (1, "B", "D homered, RBI", 2, 1),
        (1, "B", "E flied out to cf", 2, 0),  # correction downward -> clip 0
    ]
    raw = spark.createDataFrame(
        [
            (77, inning, t if h == "T" else None, t if h == "B" else None,
             seq, a, hm)
            for seq, (inning, h, t, a, hm) in enumerate(game)
        ],
        "contest_id long, inning int, away_text string, home_text string, "
        "source_seq long, away_score int, home_score int",
    ).withColumn("year", F.lit(2026)).withColumn("division", F.lit("x"))
    rows = {r["play_id"]: r for r in parse_pbp_with_source_scores(raw).collect()}
    assert rows[1]["runs_on_play"] == 0
    assert rows[2]["runs_on_play"] == 2          # delta, not narration
    assert rows[2]["away_score_before"] == 0 and rows[2]["away_score_after"] == 2
    assert rows[3]["runs_on_play"] == 0
    assert rows[4]["runs_on_play"] == 1          # home run delta
    assert rows[5]["runs_on_play"] == 0          # downward correction clipped
    # windows over the delta-derived runs
    assert rows[1]["runs_this_inn"] == 2 and rows[1]["runs_roi"] == 2
    assert rows[3]["runs_roi"] == 0


def test_partitioned_fsm_matches_grouped(spark):
    """The Arrow FSM runner (parser.add_base_state, run by parse_pbp after
    its one contest_id exchange) must be bit-identical to the per-game
    grouped map on generated games — including games whose plays straddle
    Arrow batch boundaries (forced tiny batch size)."""
    from d3d_etl_spark.operators.fsm import run_grouped_fsm
    from d3d_etl_spark.pbp.parser import add_events, add_metadata
    from base_state_reference import BASE_STATE_SCHEMA, base_state_fsm
    from d3d_etl_spark.pbp.state import STATE_COLUMNS
    from d3d_etl_spark.pbp.synth import RAW_SCHEMA, generate_games

    raw = spark.createDataFrame(generate_games(40, seed=7), RAW_SCHEMA)
    cols = add_events(add_metadata(raw)).select(
        "contest_id", "play_id", "inning", "half", "play_text"
    )
    grouped = run_grouped_fsm(
        cols, ["contest_id"], ["play_id"], base_state_fsm, BASE_STATE_SCHEMA
    )
    want = sorted(map(tuple, grouped.collect()))
    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        # tiny batches: many games AND many batch boundaries per partition
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        part = parse_pbp(raw).select("contest_id", "play_id", *STATE_COLUMNS)
        assert sorted(map(tuple, part.collect())) == want
    finally:
        # conf.get(key, None) is None when never explicitly set — restore
        # means UNSET in that case, or every later test runs on tiny batches
        if saved is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_parse_drops_null_contest_id(spark):
    """A raw row without a contest_id belongs to no game: the parse drops
    it (the head filter of parser.game_partitioned), and the games around
    it parse exactly as they do without it."""
    from d3d_etl_spark.pbp.synth import RAW_SCHEMA, generate_games

    rows = generate_games(3, seed=5)
    orphan = (rows[0][0], rows[0][1], None, 1, "Ghost singled to left.", None, 10**6)
    with_orphan = parse_pbp(spark.createDataFrame(rows + [orphan], RAW_SCHEMA))
    clean = parse_pbp(spark.createDataFrame(rows, RAW_SCHEMA))
    got = with_orphan.collect()
    assert all(r.contest_id is not None for r in got)
    assert sorted(map(tuple, got)) == sorted(map(tuple, clean.collect()))
    assert len(got) == len(rows)
