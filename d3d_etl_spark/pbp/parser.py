"""PBP parse pipeline (SURVEY.md §3.2, re-expressed Spark-first).

Stages (reference pbp_parser/main.py:33-54):
  1. metadata  — half from which narration column is populated, play_id from
     a window over the persisted source order (the reference's global
     arange + stable sort is replaced by an explicit total order).
  2. classify  — event type via the priority when-cascade (events.py).
  3. outs/runs — window functions (W3 running-sum-before, W5 group total,
     W6 reverse running sum), not the reference's index loops.
  4. base state — the FSM (state.py) as a pass-through Arrow map that
     appends five columns to the windowed rows.
  5. expected-runs matrix — group aggregate + pivot (A1/A8).

A parse has ONE shuffle: the raw rows are hash-partitioned on contest_id
up front (game_partitioned). Every window partitions on a superset of
contest_id, so that partitioning satisfies all of them, and games never
span partitions — the FSM walks each partition in (contest_id, play_id)
order. Games are independent, so the whole pipeline scales with the
number of games.

Each stage takes its fixed Column trees from a per_gateway builder
(functions/trees.py) and adds one dependency level of columns per
withColumns call, in the parse's published column order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from d3d_etl_spark.functions.trees import cols, per_gateway
from d3d_etl_spark.operators.windows import (
    ffill,
    group_total,
    reverse_running_sum,
    running_sum_before,
)
from d3d_etl_spark.pbp.events import PA_EVENTS, classify_event, outs_on_play, runs_on_play
from d3d_etl_spark.pbp.state import _BATTER_VERBS, STATE_COLUMNS, base_state_arrow_iter


@per_gateway
def _has_game() -> Column:
    return F.col("contest_id").isNotNull()


def game_partitioned(raw: DataFrame) -> DataFrame:
    """The parse's one exchange: drop rows without a game, then hash the
    rest on contest_id at session parallelism, so whole games share a
    partition and every later per-game window runs without a shuffle."""
    n = raw.sparkSession.sparkContext.defaultParallelism
    return raw.where(_has_game()).repartition(n, *cols("contest_id"))


@per_gateway
def _metadata_trees() -> tuple[dict[str, Column], Column, Column]:
    away = F.col("away_text")
    text = F.col("play_text")
    w = Window.partitionBy("contest_id").orderBy("source_seq")
    return (
        {
            "half": F.when(away.isNotNull() & (away != ""), "Top").otherwise("Bottom"),
            "play_text": F.coalesce(away, F.col("home_text")),
        },
        text.isNotNull() & (text != ""),
        F.row_number().over(w).cast("long"),
    )


def add_metadata(raw: DataFrame) -> DataFrame:
    """Half derivation + total-order play_id (reference columns.py:121-128).

    Exactly one of home_text/away_text is populated per row; away bats Top.
    """
    half_text, has_text, play_id = _metadata_trees()
    return raw.withColumns(half_text).where(has_text).withColumn("play_id", play_id)


@per_gateway
def _event_trees(has_teams: bool) -> tuple[Column, dict[str, Column]]:
    """(event_type, the columns that follow it) over play_text; the batting
    team is NULL when the raw rows carry no team ids."""
    text = F.col("play_text")
    batter = F.regexp_extract(
        F.split(text, ";").getItem(0), rf"^\s*(.*?)\s+(?:{_BATTER_VERBS})", 1
    )
    team = (
        F.when(F.col("half") == "Top", F.col("away_team_id")).otherwise(F.col("home_team_id"))
        if has_teams
        else F.lit(None).cast("string")
    )
    return classify_event(text), {
        "outs_on_play": outs_on_play(text, F.col("event_type")),
        "runs_on_play": runs_on_play(text),
        "batter_name": F.when(batter != "", batter).otherwise(F.lit(None).cast("string")),
        "batting_team": team,
    }


def add_events(df: DataFrame) -> DataFrame:
    event_type, rest = _event_trees("away_team_id" in df.columns)
    return df.withColumn("event_type", event_type).withColumns(rest)


@per_gateway
def _outs_runs_trees() -> tuple[Column, dict[str, Column]]:
    w = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    runs = F.col("runs_on_play")
    return running_sum_before(F.col("outs_on_play"), w).cast("int"), {
        "outs_after": (F.col("outs_before") + F.col("outs_on_play")).cast("int"),
        "runs_this_inn": group_total(runs, ["contest_id", "inning", "half"]).cast("int"),
        "runs_roi": reverse_running_sum(runs, w).cast("int"),
    }


def add_outs_runs_windows(df: DataFrame) -> DataFrame:
    """W3/W5/W6 over (contest, inning, half) ordered by play_id."""
    outs_before, rest = _outs_runs_trees()
    return df.withColumn("outs_before", outs_before).withColumns(rest)


@per_gateway
def _bat_order_tree() -> Column:
    is_pa = F.col("event_type").isin(*PA_EVENTS)
    w = Window.partitionBy("contest_id", "half").orderBy("play_id")
    pa_idx = F.sum(F.when(is_pa, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    slot = F.when(is_pa, ((pa_idx - 1) % 9 + 1).cast("int"))
    return F.coalesce(ffill(slot, w), F.lit(1)).cast("int")


def add_bat_order(df: DataFrame) -> DataFrame:
    """W8/W9: batting-order slot from the PA sequence (reference
    helpers.py:119-128: ``((pa_idx - 1) % 9) + 1`` over plate appearances,
    then propagated to non-PA rows (steals, wild pitches) by grouped
    ffill — helpers.py:131-139)."""
    return df.withColumn("bat_order", _bat_order_tree())


@per_gateway
def _score_trees() -> tuple[dict[str, Column], dict[str, Column]]:
    w = Window.partitionBy("contest_id").orderBy("play_id")
    home_r = F.when(F.col("half") == "Bottom", F.col("runs_on_play")).otherwise(F.lit(0))
    away_r = F.when(F.col("half") == "Top", F.col("runs_on_play")).otherwise(F.lit(0))
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    return {
        "home_score_before": F.coalesce(F.sum(home_r).over(before), F.lit(0)).cast("int"),
        "away_score_before": F.coalesce(F.sum(away_r).over(before), F.lit(0)).cast("int"),
    }, {
        "home_score_after": (F.col("home_score_before") + home_r).cast("int"),
        "away_score_after": (F.col("away_score_before") + away_r).cast("int"),
    }


def add_scores(df: DataFrame) -> DataFrame:
    """W4: running team scores from per-play runs (reference columns.py:
    144-159 derives score_before via segmented cumsums; with runs already
    per-play the plain running sum per game suffices — runs credit the
    batting side: Top = away, Bottom = home)."""
    before, after = _score_trees()
    return df.withColumns(before).withColumns(after)


def add_source_score_runs(df: DataFrame) -> DataFrame:
    """Current-year mode (reference main.py:57-71, behind `year >=
    CURRENT_YEAR`): the source feed carries running scores, so runs are
    score DELTAS (lagged per game, clipped at 0 against corrections), and
    the score columns come from the feed rather than narration counting.
    Expects `away_score`/`home_score` columns (the JSON-source shape)."""
    w = Window.partitionBy("contest_id").orderBy("play_id")
    a_after = F.coalesce(F.col("away_score").try_cast("int"), F.lit(0))
    h_after = F.coalesce(F.col("home_score").try_cast("int"), F.lit(0))
    df = (
        df.withColumn("away_score_after", a_after)
        .withColumn("home_score_after", h_after)
        .withColumn("away_score_before", F.coalesce(F.lag("away_score_after").over(w), F.lit(0)))
        .withColumn("home_score_before", F.coalesce(F.lag("home_score_after").over(w), F.lit(0)))
    )
    runs = F.when(
        F.col("half") == "Top",
        F.greatest(F.col("away_score_after") - F.col("away_score_before"), F.lit(0)),
    ).otherwise(
        F.greatest(F.col("home_score_after") - F.col("home_score_before"), F.lit(0))
    )
    return df.withColumn("runs_on_play", runs.cast("int"))


def add_base_state(df: DataFrame) -> DataFrame:
    """Base-state FSM as a pass-through Arrow map: every column of `df`
    passes through unchanged and bases_before, bases_after and r1..r3_name
    are appended (state.base_state_arrow_iter). `df` must be partitioned so
    that no game spans two partitions — parse_pbp's head exchange
    (game_partitioned) guarantees it; sortWithinPartitions supplies the
    per-game play order (secondary-sort pattern), so one Python worker
    walks many games with no fork and no join back."""
    out_schema = StructType(
        df.schema.fields + [StructField(c, StringType()) for c in STATE_COLUMNS]
    )
    return df.sortWithinPartitions(*cols("contest_id", "play_id")).mapInArrow(
        base_state_arrow_iter, out_schema
    )


def _with_base_state(spine: DataFrame) -> DataFrame:
    """FSM last, then the (contest_id, play_id)-first column order the
    parse has always had."""
    keys = ["contest_id", "play_id"]
    rest = [c for c in spine.columns if c not in keys]
    return add_base_state(spine).select(*cols(*keys, *rest, *STATE_COLUMNS))


def parse_pbp(raw: DataFrame) -> DataFrame:
    """Full parse: raw narration -> wide play table, one row per raw row
    with a contest_id and non-empty narration.

    One stage after one exchange: game_partitioned hashes the raw rows on
    contest_id, the metadata/classifier/window chain runs on that
    partitioning without another shuffle, and the FSM appends its columns
    last. The narration is scanned once and nothing is broadcast or joined.
    """
    spine = add_bat_order(
        add_scores(add_outs_runs_windows(add_events(add_metadata(game_partitioned(raw)))))
    )
    return _with_base_state(spine)


def parse_pbp_with_source_scores(raw: DataFrame) -> DataFrame:
    """Current-year parse (reference's `year >= CURRENT_YEAR` branch): the
    feed's running scores are authoritative — runs come from score deltas
    (add_source_score_runs), narration counting is skipped, and the score
    columns pass through instead of being re-accumulated. Same one-exchange
    shape as parse_pbp."""
    base = add_source_score_runs(add_events(add_metadata(game_partitioned(raw))))
    return _with_base_state(add_bat_order(add_outs_runs_windows(base)))


@per_gateway
def _er_matrix_trees() -> tuple:
    """(filter, grouping, cell aggregates, pivot aggregates, wide columns)."""
    runs, n = F.col("runs_roi"), F.count("*")
    return (
        F.col("outs_before") <= 2,
        [*cols("division", "year"), F.col("bases_before").alias("bases"), F.col("outs_before")],
        [
            F.round(F.sum(runs).cast("double") / n, 3).alias("erv"),
            F.round(F.sum(F.when(runs > 0, 1).otherwise(0)).cast("double") / n, 3).alias(
                "prob"
            ),
        ],
        [F.first("erv").alias("erv"), F.first("prob").alias("prob")],
        # pivot emits columns "<value>_<aggalias>": 0_erv, 0_prob, ...
        [*cols("division", "year", "bases")]
        + [F.col(f"{o}_erv").alias(f"erv_{o}") for o in (0, 1, 2)]
        + [F.col(f"{o}_prob").alias(f"prob_{o}") for o in (0, 1, 2)],
    )


def expected_runs_matrix(parsed: DataFrame) -> DataFrame:
    """RE24: mean runs-rest-of-inning and scoring probability by
    (bases_before, outs_before), wide per reference shape
    (get_er_matrix.py:17-24, :104-121): one row per (division, year, bases),
    erv_0..2 / prob_0..2 columns.

    Means are exact (integer sums / counts) and rounded to 3 like the
    reference's published matrix.
    """
    live, cell, cell_aggs, pivot_aggs, wide = _er_matrix_trees()
    base = parsed.where(live).groupBy(*cell).agg(*cell_aggs)
    return (
        base.groupBy("division", "year", "bases")
        .pivot("outs_before", [0, 1, 2])
        .agg(*pivot_aggs)
        .select(*wide)
    )
