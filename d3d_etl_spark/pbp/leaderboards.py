"""Leaderboard layer (SURVEY.md §3.4): one cached play scan fanned into
group-aggregate boards.

The reference computes ~20 boards with repeated pandas groupbys over one
frame (leaderboards/main.py:55-85). Spark-first: conditional aggregation
(A4/A5) and split pivots (A8) over a single play scan — each board is one
groupBy, every split a `sum(when(...))`, no repeated scans (cache the parsed
table; each board is then one shuffle on its grain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from d3d_etl_spark.functions.math import safe_div
from d3d_etl_spark.functions.trees import cols, per_gateway
from d3d_etl_spark.pbp.events import PA_EVENTS, SO_EVENTS

_HIT_EVENTS = ("1B", "2B", "3B", "HR")
_OB_EVENTS = ("1B", "2B", "3B", "HR", "BB", "IBB", "HBP")


def _n(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0))


_BATTER_GRAIN = ("division", "year", "batter_name")


@per_gateway
def _batting_trees(min_pa: int, has_re24: bool) -> tuple:
    """(batter rows, aggregates, PA floor, on-base rate)."""
    ev = F.col("event_type")
    pa_cond = ev.isin(*PA_EVENTS)
    return (
        F.col("batter_name").isNotNull(),
        [
            _n(pa_cond).alias("pa"),
            _n(ev.isin(*_HIT_EVENTS)).alias("h"),
            _n(ev == "1B").alias("b1"),
            _n(ev == "2B").alias("b2"),
            _n(ev == "3B").alias("b3"),
            _n(ev == "HR").alias("hr"),
            _n(ev.isin("BB", "IBB")).alias("bb"),
            _n(ev == "HBP").alias("hbp"),
            _n(ev.isin(*SO_EVENTS)).alias("so"),
            F.sum("runs_on_play").alias("runs_driven"),
            # never-sum-raw-doubles (functions/money.py): per-play re24 is a
            # fixed expression tree (bit-exact on any engine), but a raw
            # double SUM of it is partition-order-dependent — aggregate as
            # 1e-9-scaled longs and convert once, like pbp/war.team_war
            (
                F.sum(F.round(F.col("re24") * 1_000_000_000).cast("long")).cast("double") / 1e9
            ).alias("re24_total")
            if has_re24
            else F.lit(None).alias("re24_total"),
        ],
        F.col("pa") >= min_pa,
        safe_div((F.col("h") + F.col("bb") + F.col("hbp")).cast("double"), F.col("pa")),
    )


def batting_board(plays: DataFrame, min_pa: int = 1) -> DataFrame:
    """Player-grain counting stats from parsed plays (reference
    leaderboards/common.py:23-63 event-count aggregation)."""
    batters, aggs, enough_pa, ob_pct = _batting_trees(min_pa, "re24" in plays.columns)
    board = plays.where(batters).groupBy(*cols(*_BATTER_GRAIN)).agg(*aggs).where(enough_pa)
    return board.withColumn("ob_pct", ob_pct)


@per_gateway
def _situational_trees(min_pa: int) -> tuple:
    """(batter rows, aggregates, PA floor, published columns)."""
    ev = F.col("event_type")
    pa_cond = ev.isin(*PA_EVENTS)
    ob_cond = ev.isin(*_OB_EVENTS)
    risp = risp_cond()
    empty = F.col("bases_before") == "NNN"
    return (
        F.col("batter_name").isNotNull(),
        [
            _n(pa_cond).alias("pa_overall"),
            _n(ob_cond).alias("ob_overall"),
            _n(pa_cond & risp).alias("pa_risp"),
            _n(ob_cond & risp).alias("ob_risp"),
            _n(pa_cond & empty).alias("pa_empty"),
            _n(ob_cond & empty).alias("ob_empty"),
        ],
        F.col("pa_overall") >= min_pa,
        [
            *cols(*_BATTER_GRAIN, "pa_overall", "pa_risp", "pa_empty"),
            *[
                safe_div(F.col(f"ob_{s}").cast("double"), F.col(f"pa_{s}")).alias(f"ob_pct_{s}")
                for s in ("overall", "risp", "empty")
            ],
        ],
    )


def situational_board(plays: DataFrame, min_pa: int = 1) -> DataFrame:
    """Situational splits (reference situational.py:19-44): overall vs
    runners-in-scoring-position vs bases-empty, as conditional aggs (A8 as
    sum(when) rather than pivot — fixed columns, one pass)."""
    batters, aggs, enough_pa, published = _situational_trees(min_pa)
    return (
        plays.where(batters).groupBy(*cols(*_BATTER_GRAIN)).agg(*aggs).where(enough_pa)
        .select(*published)
    )


def handedness_dim(name_col: F.Column, kind: str) -> F.Column:
    """Deterministic handedness from a name (the engine-portable stand-in
    for the reference's player-bio handedness maps, leaderboards/common.py:
    89-113: player_id -> bats/throws). md5-derived so any SQL engine
    assigns the identical hand.

    kind='bats': 'L' (~37.5%), 'S' (~12.5%), 'R'; kind='throws': 'L'/'R'
    50/50 (first md5 hex char buckets)."""
    c = F.substring(F.md5(name_col), 1, 1)
    if kind == "throws":
        return F.when(c.isin(*"01234567"), "L").otherwise("R")
    return (
        F.when(c.isin(*"012345"), "L").when(c.isin("e", "f"), "S").otherwise("R")
    )


def handedness_splits_board(
    plays: DataFrame,
    group_cols: list[str],
    opp_hand_col: str,
    suffixes: tuple[tuple[str, str | None], ...],
    min_pa: int = 1,
) -> DataFrame:
    """Generic handedness-splits board (A8; reference splits.py:30-58):
    per group, PA/AB/H/OB counts and BA/OB%% rates overall and per opposing
    hand — one pass of conditional aggregation over the play scan (the
    pivot columns are fixed, so sum(when) beats a pivot shuffle).

    `suffixes`: (column_suffix, hand_value-or-None-for-overall), e.g.
    (("overall", None), ("vs_lhp", "L"), ("vs_rhp", "R")).
    """
    ev = F.col("event_type")
    pa_cond = ev.isin(*PA_EVENTS)
    hit_cond = ev.isin(*_HIT_EVENTS)
    ob_cond = ev.isin(*_OB_EVENTS)
    nonab_cond = ev.isin("BB", "IBB", "HBP", "SF", "SH")
    aggs = []
    for name, hand in suffixes:
        c = F.lit(True) if hand is None else (F.col(opp_hand_col) == hand)
        aggs += [
            _n(c & pa_cond).alias(f"pa_{name}"),
            (_n(c & pa_cond) - _n(c & nonab_cond)).alias(f"ab_{name}"),
            _n(c & hit_cond).alias(f"h_{name}"),
            _n(c & ob_cond).alias(f"ob_{name}"),
        ]
    board = (
        plays.where(F.col(group_cols[-1]).isNotNull())
        .groupBy(*group_cols)
        .agg(*aggs)
        .where(F.col(f"pa_{suffixes[0][0]}") >= min_pa)
    )
    return add_split_rates(board, [s for s, _ in suffixes])


def add_split_rates(board: DataFrame, suffixes: list[str]) -> DataFrame:
    """Re-derive BA/OB%% per split from summed counts (rates never sum —
    the same rule team_rollup enforces)."""
    out = board
    for s in suffixes:
        out = out.withColumn(
            f"ba_{s}", safe_div(F.col(f"h_{s}").cast("double"), F.col(f"ab_{s}"))
        ).withColumn(
            f"ob_pct_{s}", safe_div(F.col(f"ob_{s}").cast("double"), F.col(f"pa_{s}"))
        )
    return out


@per_gateway
def _clutch_trees() -> tuple[Column, list[Column]]:
    """(batter rows with a WPA, aggregates)."""
    return (
        F.col("batter_name").isNotNull() & F.col("wpa").isNotNull(),
        [
            F.sum("wpa").alias("wpa"),
            # pandas' sum over an empty selection is 0, not NULL — a player
            # with no positive (or negative) WPA plays must get 0.0 so
            # downstream arithmetic (wpa_pos + wpa_neg) never nulls out
            F.coalesce(
                F.sum(F.when(F.col("wpa") > 0, F.col("wpa"))), F.lit(0.0)
            ).alias("wpa_pos"),
            F.coalesce(
                F.sum(F.when(F.col("wpa") < 0, F.col("wpa"))), F.lit(0.0)
            ).alias("wpa_neg"),
            F.sum("wpa_li").alias("wpa_li"),
            F.avg("li").alias("avg_li"),
            F.count("*").alias("n_plays"),
        ],
    )


def clutch_board(plays_with_wp: DataFrame) -> DataFrame:
    """Clutch/value stats (reference batting.py:174-211, value.py:34-38):
    WPA sums with positive/negative splits and mean leverage."""
    batters, aggs = _clutch_trees()
    return plays_with_wp.where(batters).groupBy(*cols(*_BATTER_GRAIN)).agg(*aggs)


@per_gateway
def _pitching_trees() -> tuple[Column, Column, list[Column]]:
    """(pitcher rows, first play of the pitcher in a game, aggregates)."""
    ev = F.col("event_type")
    first_seen = Window.partitionBy("contest_id", "pitcher_name").orderBy("play_id")
    return F.col("pitcher_name").isNotNull(), F.row_number().over(first_seen) == 1, [
        F.countDistinct("contest_id").alias("games"),
        F.sum("outs_on_play").alias("outs_recorded"),
        _n(ev.isin(*SO_EVENTS)).alias("so"),
        _n(ev.isin("1B", "2B", "3B", "HR")).alias("hits_allowed"),
        _n(ev.isin("BB", "IBB", "HBP")).alias("free_passes"),
        F.sum("runs_on_play").alias("runs_allowed"),
        F.max(F.when(F.col("_first") & (F.col("inning") > 1), 1).otherwise(0)).alias(
            "entered_in_relief"
        ),
    ]


def pitching_board(plays_with_pitchers: DataFrame) -> DataFrame:
    """Pitcher-grain board (reference pitching.py:111-168): outs recorded,
    strikeouts, baserunners allowed, plus W15 reliever detection — a
    pitcher whose FIRST play in a game is after the 1st inning entered in
    relief (reference pitching.py:162-168 takes the first row per
    (pitcher, contest) and tests inning > 1)."""
    pitchers, first, aggs = _pitching_trees()
    flagged = plays_with_pitchers.where(pitchers).withColumn("_first", first)
    return flagged.groupBy(*cols("division", "year", "pitcher_name")).agg(*aggs)


def rolling_form_board(
    plays: DataFrame, n: int = 25, entity_col: str = "batter_name"
) -> DataFrame:
    """Rolling on-base rate over the last n PAs per entity, with the value n
    PAs earlier and the trend delta, keeping each entity's latest row —
    the reference's rolling-wOBA board shape (leaderboards/rolling.py:19-43:
    rolling(n) -> shift(n) -> iloc[-1]), with pandas min-periods semantics
    (null until the frame holds n PAs). `entity_col` selects the grain:
    batter (reference rolling.py default) or pitcher (rolling_pitcher —
    on-base rate ALLOWED over the last n batters faced)."""
    from d3d_etl_spark.operators.windows import latest_per_key, rolling_sum_minp

    ev = F.col("event_type")
    pa = plays.where(F.col(entity_col).isNotNull() & ev.isin(*PA_EVENTS))
    ob = F.when(ev.isin(*_OB_EVENTS), 1).otherwise(0)
    w = Window.partitionBy("division", "year", entity_col).orderBy(
        "contest_id", "play_id"
    )
    s, c = rolling_sum_minp(ob, w, n)
    prev_frame = w.rowsBetween(-(2 * n - 1), -n)
    s_prev, c_prev = F.sum(ob).over(prev_frame), F.count("*").over(prev_frame)
    with_roll = (
        pa.withColumn("pa_seq", F.row_number().over(w))
        .withColumn("roll_ob", F.when(c == n, s.cast("double") / n))
        .withColumn("roll_ob_prev", F.when(c_prev == n, s_prev.cast("double") / n))
    )
    w_desc = Window.partitionBy("division", "year", entity_col).orderBy(
        F.desc("contest_id"), F.desc("play_id")
    )
    return (
        with_roll.withColumn("_rn", latest_per_key(w_desc))
        .where("_rn = 1")
        .select(
            "division", "year", entity_col,
            F.col("pa_seq").alias("total_pa"),
            "roll_ob", "roll_ob_prev",
            (F.col("roll_ob") - F.col("roll_ob_prev")).alias("trend"),
        )
    )


_BB_TYPES = ("gb", "fb", "ld", "pu")


@per_gateway
def _batted_ball_trees(min_bb: int, entity_col: str) -> tuple:
    """(entity rows, aggregates, batted balls, floor, type shares)."""
    ev = F.col("event_type")
    kinds = {
        "gb": ev.isin("GO", "GDP", "TP", "DP"),
        "fb": ev.isin("FO", "SF"),
        "ld": ev == "LO",
        "pu": ev.isin("PO", "IF", "FOUL"),
    }
    return (
        F.col(entity_col).isNotNull(),
        [_n(kinds[c]).alias(c) for c in _BB_TYPES],
        F.col("gb") + F.col("fb") + F.col("ld") + F.col("pu"),
        F.col("batted_balls") >= min_bb,
        {
            f"{c}_pct": F.round(safe_div(F.col(c).cast("double"), F.col("batted_balls")), 3)
            for c in _BB_TYPES
        },
    )


def batted_ball_board(
    plays: DataFrame, min_bb: int = 1, entity_col: str = "batter_name"
) -> DataFrame:
    """Batted-ball profile per entity (reference batted_ball.py: GB/FB/LD/PU
    distribution; published at batter, pitcher and both team grains —
    leaderboards/main.py output_files): one conditional-agg pass over
    contact events, grain selected by `entity_col`."""
    entities, aggs, batted_balls, enough, shares = _batted_ball_trees(min_bb, entity_col)
    return (
        plays.where(entities)
        .groupBy(*cols("division", "year", entity_col))
        .agg(*aggs)
        .withColumn("batted_balls", batted_balls)
        .where(enough)
        .withColumns(shares)
    )


_RUNNER_ACTION = (
    r"^\s*(.*?)\s+(stole (?:second|third|home)|caught stealing|picked off"
    r"|advanced to (?:second|third|home)|scored|out at (?:second|third|home))"
)


@per_gateway
def _baserunning_trees(min_events: int, entity_col: str | None) -> tuple:
    """(segment columns, runner segments, classified columns, classified
    rows, grouping, aggregates, event total, floor, steal rate)."""
    from d3d_etl_spark.pbp.state import _RUNNER_ONLY

    group_col = entity_col or "runner_name"
    carry = ["division", "year", "event_type"] + ([entity_col] if entity_col else [])
    seg = F.posexplode(F.split(F.col("play_text"), ";"))
    name = F.regexp_extract(F.col("seg"), _RUNNER_ACTION, 1)
    action = F.col("action")
    return (
        [*cols(*carry), seg.alias("pos", "seg")],
        # segment 0 is the BATTER's action (its trailing "advanced to" is a
        # batter extra advance, not a runner) — except on runner-only events,
        # where the acting runner IS segment 0
        (F.col("pos") > 0) | F.col("event_type").isin(*sorted(_RUNNER_ONLY)),
        [
            *cols("division", "year"),
            (F.col(entity_col) if entity_col else name).alias(group_col),
            F.lower(F.regexp_extract(F.col("seg"), _RUNNER_ACTION, 2)).alias("action"),
            name.alias("_runner"),
        ],
        (F.col("_runner") != "") & (action != ""),
        cols("division", "year", group_col),
        [
            _n(action.startswith("stole")).alias("sb"),
            _n(action == "caught stealing").alias("cs"),
            _n(action == "picked off").alias("pk"),
            _n(action.startswith("advanced")).alias("advances"),
            _n(action == "scored").alias("runs_scored"),
            _n(action.startswith("out at")).alias("outs_on_bases"),
        ],
        F.expr("sb + cs + pk + advances + runs_scored + outs_on_bases"),
        F.col("n_events") >= min_events,
        F.round(safe_div(F.col("sb").cast("double"), F.col("sb") + F.col("cs")), 3),
    )


def baserunning_board(
    plays: DataFrame, min_events: int = 1, entity_col: str | None = None
) -> DataFrame:
    """Runner-grain baserunning stats (reference baserunning.py; the team
    grain is baserunning.py:120-133): steals, caught-stealing, pickoffs,
    advances, runs scored — from the narration SEGMENTS rather than masked
    indicator frames (A9): explode the play text on ';', classify each
    segment with one regexp, aggregate per runner. One explode + one
    shuffle; scales with total segment count.

    `entity_col=None` groups by the extracted runner name; a column name
    (e.g. a batting-team id) groups the same classified segments by that
    play-level column instead — the team rollup."""
    (
        seg_cols, runner_segs, classed_cols, classed_rows, grain, aggs,
        n_events, enough, sb_pct,
    ) = _baserunning_trees(min_events, entity_col)
    classed = plays.select(*seg_cols).where(runner_segs).select(*classed_cols).where(classed_rows)
    board = (
        classed.groupBy(*grain).agg(*aggs).withColumn("n_events", n_events).where(enough)
    )
    return board.withColumn("sb_pct", sb_pct)


def team_rollup(
    board: DataFrame,
    group_cols: list[str],
    dim_cols: list[str] | None = None,
) -> DataFrame:
    """Generic player-board -> team-board rollup (reference
    war_calculation/common.py:39-48 `aggregate_team`: sum every numeric
    column, `first` of the carried dims). The reference publishes each
    leaderboard at both grains; this one generic produces every team
    variant, so the 20-table fan-out is 7 boards x this rollup plus the
    standalone tables. Rate columns (averages/percentages) must be
    recomputed AFTER summing, not summed — they are dropped here and the
    caller re-derives them from the summed counting stats."""
    from pyspark.sql.types import NumericType

    dim_cols = dim_cols or []
    sums = [
        F.sum(f.name).alias(f.name)
        for f in board.schema.fields
        if isinstance(f.dataType, NumericType)
        and f.name not in group_cols
        and f.name not in dim_cols
        and not f.name.endswith("_pct")  # rates re-derive, never sum
    ]
    # deterministic dim pick: F.first is shuffle-order dependent when a
    # group carries more than one value; MIN is stable across partitionings
    firsts = [F.min(c).alias(c) for c in dim_cols]
    return board.groupBy(*group_cols).agg(*sums, *firsts)


def team_batting_board(plays: DataFrame, min_pa: int = 1) -> DataFrame:
    """Team-grain batting board: roll the player board up by batting team
    and re-derive the rate column from the summed counts."""
    player = batting_board(plays, min_pa).join(
        plays.where(F.col("batter_name").isNotNull())
        .groupBy("division", "year", "batter_name")
        .agg(F.min("batting_team").alias("batting_team")),  # deterministic pick
        ["division", "year", "batter_name"],
    )
    team = team_rollup(player, ["division", "year", "batting_team"])
    return team.withColumn(
        "ob_pct",
        safe_div((F.col("h") + F.col("bb") + F.col("hbp")).cast("double"), F.col("pa")),
    )


def condition_splits_board(
    plays: DataFrame,
    group_cols: list[str],
    conditions: dict[str, F.Column | None],
    min_pa: int = 1,
) -> DataFrame:
    """Generic situation-splits board (A8; reference situational.py:19-44):
    per group, PA/AB/H/OB counts + BA/OB%% rates for each named condition
    (None = overall) — one pass of conditional aggregation, fixed columns.

    The reference's situation set is {overall, risp, runners_on,
    high_leverage, low_leverage}; callers supply whatever subset their
    play columns support (leverage needs an `li` column)."""
    ev = F.col("event_type")
    pa_cond = ev.isin(*PA_EVENTS)
    hit_cond = ev.isin(*_HIT_EVENTS)
    ob_cond = ev.isin(*_OB_EVENTS)
    nonab_cond = ev.isin("BB", "IBB", "HBP", "SF", "SH")
    aggs = []
    names = list(conditions)
    for name in names:
        cond = conditions[name]
        c = F.lit(True) if cond is None else cond
        aggs += [
            _n(c & pa_cond).alias(f"pa_{name}"),
            (_n(c & pa_cond) - _n(c & nonab_cond)).alias(f"ab_{name}"),
            _n(c & hit_cond).alias(f"h_{name}"),
            _n(c & ob_cond).alias(f"ob_{name}"),
        ]
    board = (
        plays.where(F.col(group_cols[-1]).isNotNull())
        .groupBy(*group_cols)
        .agg(*aggs)
        .where(F.col(f"pa_{names[0]}") >= min_pa)
    )
    return add_split_rates(board, names)


def risp_cond() -> F.Column:
    """Runner in scoring position: 2nd or 3rd occupied before the play."""
    return F.col("bases_before").substr(2, 2) != "NN"


def runners_on_cond() -> F.Column:
    return F.col("bases_before") != "NNN"
