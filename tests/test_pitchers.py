"""Pitcher-queue FSM (F2) tests: substitution consumes the queue in order;
home pitches Top halves, away pitches Bottom."""

from __future__ import annotations

from d3d_etl_spark.pbp.parser import add_metadata
from d3d_etl_spark.pbp.pitchers import fill_pitchers


def test_pitcher_queue(spark):
    game = [
        (1, "T", "A1 singled"),
        (1, "T", "A2 struck out swinging"),
        (1, "B", "H1 walked"),
        (2, "T", "RELIEF, R. to p for STARTER, S."),
        (2, "T", "A3 grounded out to ss"),
        (2, "B", "H2 flied out to cf"),
    ]
    raw = spark.createDataFrame(
        [
            (100, inning, t if h == "T" else None, t if h == "B" else None, seq)
            for seq, (inning, h, t) in enumerate(game)
        ],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    )
    plays = add_metadata(raw)
    lineups = spark.createDataFrame(
        [
            (100, "home", 1, "STARTER, S."),
            (100, "home", 2, "RELIEF, R."),
            (100, "away", 1, "AWAYACE, A."),
        ],
        "contest_id long, side string, pitch_order int, player_name string",
    )
    got = {
        r["play_id"]: r["pitcher_name"]
        for r in fill_pitchers(plays, lineups).collect()
    }
    assert got[1] == "STARTER, S."      # Top 1: home starter on the mound
    assert got[2] == "STARTER, S."
    assert got[3] == "AWAYACE, A."      # Bottom 1: away pitcher
    assert got[4] == "RELIEF, R."       # sub play itself: new pitcher active
    assert got[5] == "RELIEF, R."       # Top 2 after sub
    assert got[6] == "AWAYACE, A."      # away unaffected


def test_pitcher_sub_not_in_queue(spark):
    game = [
        (1, "T", "A1 singled"),
        (1, "T", "SURPRISE, X. to p for STARTER, S."),
        (1, "T", "A2 walked"),
    ]
    raw = spark.createDataFrame(
        [
            (7, inning, t, None, seq)
            for seq, (inning, _h, t) in enumerate(game)
        ],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    )
    plays = add_metadata(raw)
    lineups = spark.createDataFrame(
        [(7, "home", 1, "STARTER, S."), (7, "away", 1, "AWAYACE, A.")],
        "contest_id long, side string, pitch_order int, player_name string",
    )
    got = {r["play_id"]: r["pitcher_name"] for r in fill_pitchers(plays, lineups).collect()}
    # narration wins when the named sub isn't the queue's next entry
    assert got[1] == "STARTER, S."
    assert got[3] == "SURPRISE, X."


def test_partitioned_pitcher_fsm_matches_cogroup(spark):
    """fill_pitchers (tag-union partitioned runner) must be bit-identical
    to the per-game cogroup form across many generated games — including a
    game with NO lineup rows (pitcher None) and tiny arrow batches that
    straddle game boundaries."""
    from d3d_etl_spark.pbp.parser import add_metadata
    from d3d_etl_spark.pbp.pitchers import fill_pitchers, fill_pitchers_grouped
    from d3d_etl_spark.pbp.synth import RAW_SCHEMA, generate_games

    raw = spark.createDataFrame(generate_games(30, seed=11), RAW_SCHEMA)
    plays = add_metadata(raw).select("contest_id", "play_id", "half", "play_text")
    games = [r["contest_id"] for r in plays.select("contest_id").distinct().collect()]
    # deterministic lineups for all but the first game (the lineup-less edge)
    rows = []
    for g in sorted(games)[1:]:
        for side in ("home", "away"):
            for k in range(3):
                rows.append((g, side, k + 1, f"P{k}_{side}_{g % 7}"))
    lineups = spark.createDataFrame(
        rows, "contest_id long, side string, pitch_order int, player_name string"
    )

    want = sorted(map(tuple, fill_pitchers_grouped(plays, lineups).collect()))
    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        got = sorted(map(tuple, fill_pitchers(plays, lineups).collect()))
    finally:
        # conf.get(key, None) is None when never explicitly set — restore
        # means UNSET in that case, or every later test runs on tiny batches
        if saved is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == want and len(got) == plays.count()


def test_pitcher_queue_second_in_queue_sub(spark):
    """A later in-queue sub consumes the NEXT queue entry after an earlier
    sub advanced the pointer."""
    game = [
        (1, "T", "A1 singled"),
        (1, "B", "H1 struck out swinging"),
        (2, "T", "RELIEF, R. to p for STARTER, S."),
        (2, "T", "A2 walked"),
        (3, "T", "A3 flied out to cf"),
        (3, "B", "H2 singled"),
        (4, "T", "CLOSER, C. to p for RELIEF, R."),
        (4, "T", "A4 grounded out to ss"),
    ]
    raw = spark.createDataFrame(
        [
            (300, inning, t if h == "T" else None, t if h == "B" else None, seq)
            for seq, (inning, h, t) in enumerate(game)
        ],
        "contest_id long, inning int, away_text string, home_text string, source_seq long",
    )
    plays = add_metadata(raw)
    lineups = spark.createDataFrame(
        [
            (300, "home", 1, "STARTER, S."),
            (300, "home", 2, "RELIEF, R."),
            (300, "home", 3, "CLOSER, C."),
            (300, "away", 1, "AWAY1, A."),
        ],
        "contest_id long, side string, pitch_order int, player_name string",
    )
    got = {r["play_id"]: r["pitcher_name"] for r in fill_pitchers(plays, lineups).collect()}
    assert got == {
        1: "STARTER, S.", 2: "AWAY1, A.", 3: "RELIEF, R.", 4: "RELIEF, R.",
        5: "RELIEF, R.", 6: "AWAY1, A.", 7: "CLOSER, C.", 8: "CLOSER, C.",
    }
