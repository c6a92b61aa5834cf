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
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from d3d_etl_spark.operators.windows import (
    group_total,
    reverse_running_sum,
    running_sum_before,
)
from d3d_etl_spark.pbp.events import classify_event, outs_on_play, runs_on_play
from d3d_etl_spark.pbp.state import _BATTER_VERBS, STATE_COLUMNS, base_state_arrow_iter

# The add_events Column trees, built once per live JVM gateway: building
# them costs ~150 serialized Python->JVM calls of driver time per parse.
# Only the unresolved expressions are shared; every parse still analyzes,
# plans and executes its own plan.
_EVENT_TREES: tuple = (None, None)  # (gateway, trees)


def _event_trees() -> tuple[Column, Column, Column, Column]:
    """(event_type, outs_on_play, runs_on_play, batter) over play_text."""
    global _EVENT_TREES
    gateway = SparkContext._gateway
    if _EVENT_TREES[0] is not gateway or _EVENT_TREES[1] is None:
        text = F.col("play_text")
        first_seg = F.split(text, ";").getItem(0)
        _EVENT_TREES = (gateway, (
            classify_event(text),
            outs_on_play(text, F.col("event_type")),
            runs_on_play(text),
            F.regexp_extract(first_seg, rf"^\s*(.*?)\s+(?:{_BATTER_VERBS})", 1),
        ))
    return _EVENT_TREES[1]


def game_partitioned(raw: DataFrame) -> DataFrame:
    """The parse's one exchange: drop rows without a game, then hash the
    rest on contest_id at session parallelism, so whole games share a
    partition and every later per-game window runs without a shuffle."""
    n = raw.sparkSession.sparkContext.defaultParallelism
    return raw.where(F.col("contest_id").isNotNull()).repartition(n, "contest_id")


def add_metadata(raw: DataFrame) -> DataFrame:
    """Half derivation + total-order play_id (reference columns.py:121-128).

    Exactly one of home_text/away_text is populated per row; away bats Top.
    """
    w = Window.partitionBy("contest_id").orderBy("source_seq")
    return (
        raw.withColumn(
            "half",
            F.when(F.col("away_text").isNotNull() & (F.col("away_text") != ""), "Top").otherwise(
                "Bottom"
            ),
        )
        .withColumn("play_text", F.coalesce(F.col("away_text"), F.col("home_text")))
        .where(F.col("play_text").isNotNull() & (F.col("play_text") != ""))
        .withColumn("play_id", F.row_number().over(w).cast("long"))
    )


def add_events(df: DataFrame) -> DataFrame:
    ev, outs, runs, batter = _event_trees()
    return (
        df.withColumn("event_type", ev)
        .withColumn("outs_on_play", outs)
        .withColumn("runs_on_play", runs)
        .withColumn(
            "batter_name", F.when(batter != "", batter).otherwise(F.lit(None).cast("string"))
        )
        .withColumn(
            "batting_team",
            F.when(F.col("half") == "Top", F.col("away_team_id")).otherwise(
                F.col("home_team_id")
            ) if "away_team_id" in df.columns else F.lit(None).cast("string"),
        )
    )


def add_outs_runs_windows(df: DataFrame) -> DataFrame:
    """W3/W5/W6 over (contest, inning, half) ordered by play_id."""
    w = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    part = ["contest_id", "inning", "half"]
    return (
        df.withColumn("outs_before", running_sum_before(F.col("outs_on_play"), w).cast("int"))
        .withColumn("outs_after", (F.col("outs_before") + F.col("outs_on_play")).cast("int"))
        .withColumn("runs_this_inn", group_total(F.col("runs_on_play"), part).cast("int"))
        .withColumn(
            "runs_roi", reverse_running_sum(F.col("runs_on_play"), w).cast("int")
        )
    )


def add_bat_order(df: DataFrame) -> DataFrame:
    """W8/W9: batting-order slot from the PA sequence (reference
    helpers.py:119-128: ``((pa_idx - 1) % 9) + 1`` over plate appearances,
    then propagated to non-PA rows (steals, wild pitches) by grouped
    ffill — helpers.py:131-139)."""
    from d3d_etl_spark.operators.windows import ffill
    from d3d_etl_spark.pbp.events import PA_EVENTS

    is_pa = F.col("event_type").isin(*PA_EVENTS)
    w = Window.partitionBy("contest_id", "half").orderBy("play_id")
    pa_idx = F.sum(F.when(is_pa, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    slot = F.when(is_pa, ((pa_idx - 1) % 9 + 1).cast("int"))
    return df.withColumn("bat_order", F.coalesce(ffill(slot, w), F.lit(1)).cast("int"))


def add_scores(df: DataFrame) -> DataFrame:
    """W4: running team scores from per-play runs (reference columns.py:
    144-159 derives score_before via segmented cumsums; with runs already
    per-play the plain running sum per game suffices — runs credit the
    batting side: Top = away, Bottom = home)."""
    w = Window.partitionBy("contest_id").orderBy("play_id")
    home_r = F.when(F.col("half") == "Bottom", F.col("runs_on_play")).otherwise(F.lit(0))
    away_r = F.when(F.col("half") == "Top", F.col("runs_on_play")).otherwise(F.lit(0))
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        df.withColumn(
            "home_score_before",
            F.coalesce(F.sum(home_r).over(before), F.lit(0)).cast("int"),
        )
        .withColumn(
            "away_score_before",
            F.coalesce(F.sum(away_r).over(before), F.lit(0)).cast("int"),
        )
        .withColumn("home_score_after", (F.col("home_score_before") + home_r).cast("int"))
        .withColumn("away_score_after", (F.col("away_score_before") + away_r).cast("int"))
    )


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
    return df.sortWithinPartitions("contest_id", "play_id").mapInArrow(
        base_state_arrow_iter, out_schema
    )


def _with_base_state(spine: DataFrame) -> DataFrame:
    """FSM last, then the (contest_id, play_id)-first column order the
    parse has always had."""
    keys = ["contest_id", "play_id"]
    rest = [c for c in spine.columns if c not in keys]
    return add_base_state(spine).select(*keys, *rest, *STATE_COLUMNS)


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


def expected_runs_matrix(parsed: DataFrame) -> DataFrame:
    """RE24: mean runs-rest-of-inning and scoring probability by
    (bases_before, outs_before), wide per reference shape
    (get_er_matrix.py:17-24, :104-121): one row per (division, year, bases),
    erv_0..2 / prob_0..2 columns.

    Means are exact (integer sums / counts) and rounded to 3 like the
    reference's published matrix.
    """
    base = (
        parsed.where(F.col("outs_before") <= 2)
        .groupBy("division", "year", F.col("bases_before").alias("bases"), "outs_before")
        .agg(
            F.round(F.sum("runs_roi").cast("double") / F.count("*"), 3).alias("erv"),
            F.round(
                F.sum(F.when(F.col("runs_roi") > 0, 1).otherwise(0)).cast("double")
                / F.count("*"),
                3,
            ).alias("prob"),
        )
    )
    pivoted = (
        base.groupBy("division", "year", "bases")
        .pivot("outs_before", [0, 1, 2])
        .agg(F.first("erv").alias("erv"), F.first("prob").alias("prob"))
    )
    # pivot emits columns "<value>_<aggalias>": 0_erv, 0_prob, ...
    return pivoted.select(
        "division",
        "year",
        "bases",
        *[F.col(f"{o}_erv").alias(f"erv_{o}") for o in (0, 1, 2)],
        *[F.col(f"{o}_prob").alias(f"prob_{o}") for o in (0, 1, 2)],
    )
