"""The reference's flagship wide `pbp_with_metrics` table — all 78
`keep_columns` entries as a declared-schema projection (reference
add_pbp_metrics.py:260-342; flags :203-206; `_eff_inn` rewrite :128-129).

Everything here composes existing engine pieces — parse output, RE24, the
WE/LI lookup joins, the pitcher queue, hash ids — into the exact column
contract a consumer of the reference's `pbp_with_metrics` CSV sees. The
schema is first-class (`PBP_WITH_METRICS_SCHEMA`): the projection selects
and casts every column explicitly, so drift fails loudly.

Column notes vs the reference:
- `date` / `is_neutral_site` ride through when the source carries them
  (the NCAA feed does; the synthetic generator doesn't) and are NULL
  otherwise — nullable in the declared schema, same as the reference's
  schema-on-read.
- `away_score`/`home_score` are the running post-play scores (the
  reference keeps the source feed's running-score columns; in narration
  mode those equal the engine's `*_score_after`).
- `_eff_inn` (W11 group-max broadcast): short games map their final
  innings onto inning 9 for the WE/LI lookups, exactly the reference's
  `(inning + (9 - max_inn).clip(lower=0)).clip(upper=9)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from d3d_etl_spark.functions.strings import hash_id
from d3d_etl_spark.pbp.state import _RUNNER_ONLY

# the reference's exact keep_columns order (add_pbp_metrics.py:260-342)
_COLUMNS: list[tuple[str, T.DataType]] = [
    ("year", T.IntegerType()),
    ("date", T.DateType()),
    ("contest_id", T.LongType()),
    ("inning", T.IntegerType()),
    ("away_score", T.IntegerType()),
    ("home_score", T.IntegerType()),
    ("division", T.StringType()),
    ("home_team_id", T.StringType()),
    ("away_team_id", T.StringType()),
    ("is_neutral_site", T.BooleanType()),
    ("half", T.StringType()),
    ("play_description", T.StringType()),
    ("play_id", T.LongType()),
    ("away_team_name", T.StringType()),
    ("home_team_name", T.StringType()),
    ("bat_team_id", T.StringType()),
    ("pitch_team_id", T.StringType()),
    ("bat_team_name", T.StringType()),
    ("pitch_team_name", T.StringType()),
    ("game_end_fl", T.BooleanType()),
    ("inn_end_fl", T.BooleanType()),
    ("new_game_fl", T.BooleanType()),
    ("new_inn_fl", T.BooleanType()),
    ("sub_fl", T.IntegerType()),
    ("sub_in", T.StringType()),
    ("sub_out", T.StringType()),
    ("sub_pos", T.StringType()),
    ("int_bb_fl", T.IntegerType()),
    ("sh_fl", T.IntegerType()),
    ("sf_fl", T.IntegerType()),
    ("top_inning_fl", T.IntegerType()),
    ("pitcher_sub_fl", T.IntegerType()),
    ("outs_on_play", T.IntegerType()),
    ("outs_before", T.IntegerType()),
    ("outs_after", T.IntegerType()),
    ("runs_on_play", T.IntegerType()),
    ("away_score_before", T.IntegerType()),
    ("home_score_before", T.IntegerType()),
    ("home_score_after", T.IntegerType()),
    ("away_score_after", T.IntegerType()),
    ("runs_this_inn", T.IntegerType()),
    ("runs_roi", T.IntegerType()),
    ("batter_name", T.StringType()),
    ("r1_name", T.StringType()),
    ("r2_name", T.StringType()),
    ("r3_name", T.StringType()),
    ("bases_before", T.StringType()),
    ("r1_after", T.StringType()),
    ("r2_after", T.StringType()),
    ("r3_after", T.StringType()),
    ("bases_after", T.StringType()),
    ("bat_order", T.IntegerType()),
    ("event_type", T.StringType()),
    ("batted_ball_type", T.StringType()),
    ("pitcher_name", T.StringType()),
    ("pitcher_id", T.StringType()),
    ("batter_id", T.StringType()),
    ("r1_id", T.StringType()),
    ("r2_id", T.StringType()),
    ("r3_id", T.StringType()),
    ("player_name", T.StringType()),
    ("player_id", T.StringType()),
    ("woba", T.DoubleType()),
    ("re_before", T.DoubleType()),
    ("re_after", T.DoubleType()),
    ("re_delta", T.DoubleType()),
    ("rea", T.DoubleType()),
    ("score_diff_before", T.IntegerType()),
    ("score_diff_after", T.IntegerType()),
    ("home_win_exp_before", T.DoubleType()),
    ("li", T.DoubleType()),
    ("home_win_exp_after", T.DoubleType()),
    ("delta_home_win_exp", T.DoubleType()),
    ("wpa", T.DoubleType()),
    ("wpa_li", T.DoubleType()),
    ("times_through_order", T.IntegerType()),
    ("high_leverage_fl", T.BooleanType()),
    ("low_leverage_fl", T.BooleanType()),
]

PBP_WITH_METRICS_SCHEMA = T.StructType(
    [T.StructField(name, dtype, True) for name, dtype in _COLUMNS]
)

# substitution narration: "X to <pos> for Y" (reference columns.py:259-307)
_SUB_RE = r"^\s*(.*?)\s+to\s+([a-z0-9]+)\s+for\s+(.*?)\s*[.;]?\s*$"

def batted_ball_type(play_text: F.Column, event: F.Column) -> F.Column:
    """Text-keyword batted-ball classifier (reference BattedBallType:
    ground_ball / fly_ball / line_drive / pop_up / bunt)."""
    t = F.lower(play_text)
    return (
        F.when(t.contains("bunt"), "bunt")
        .when(t.contains("grounded"), "ground_ball")
        .when(t.contains("lined"), "line_drive")
        .when(t.contains("popped"), "pop_up")
        .when(t.contains("flied") | t.contains("homered") | (event == "SF"), "fly_ball")
        .otherwise(F.lit(None).cast("string"))
    )


def add_game_flags(df: DataFrame) -> DataFrame:
    """W7 first/last-row flags at game and half-inning grain
    (reference columns.py:241-253)."""
    wg = Window.partitionBy("contest_id").orderBy("play_id")
    wg_d = Window.partitionBy("contest_id").orderBy(F.desc("play_id"))
    wi = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    wi_d = Window.partitionBy("contest_id", "inning", "half").orderBy(F.desc("play_id"))
    return (
        df.withColumn("new_game_fl", F.row_number().over(wg) == 1)
        .withColumn("game_end_fl", F.row_number().over(wg_d) == 1)
        .withColumn("new_inn_fl", F.row_number().over(wi) == 1)
        .withColumn("inn_end_fl", F.row_number().over(wi_d) == 1)
    )


def add_substitutions(df: DataFrame) -> DataFrame:
    """T3 substitution triple extraction + flags (reference columns.py:
    259-307; pitcher_sub_fl feeds the pitcher queue FSM)."""
    first_seg = F.split(F.col("play_text"), ";").getItem(0)
    sub_in = F.regexp_extract(first_seg, _SUB_RE, 1)
    sub_pos = F.lower(F.regexp_extract(first_seg, _SUB_RE, 2))
    sub_out = F.regexp_extract(first_seg, _SUB_RE, 3)
    is_sub = sub_in != ""
    return (
        df.withColumn("sub_fl", is_sub.cast("int"))
        .withColumn("sub_in", F.when(is_sub, sub_in))
        .withColumn("sub_out", F.when(is_sub, sub_out))
        .withColumn("sub_pos", F.when(is_sub, sub_pos))
        .withColumn("pitcher_sub_fl", (is_sub & (sub_pos == "p")).cast("int"))
    )


def add_runners_after(df: DataFrame) -> DataFrame:
    """J9 self-join-via-shift: the FSM's after-state IS the next play's
    before-state within a half-inning; the inning's last play clears the
    bases (reference reads them off the FSM directly)."""
    w = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    return (
        df.withColumn("r1_after", F.lead("r1_name").over(w))
        .withColumn("r2_after", F.lead("r2_name").over(w))
        .withColumn("r3_after", F.lead("r3_name").over(w))
    )


def add_times_through_order(df: DataFrame) -> DataFrame:
    """W8 cumcount+1 over (contest, pitcher, batter, bat_order)
    (reference add_pbp_metrics.py:203-206)."""
    w = Window.partitionBy(
        "contest_id", "pitcher_name", "batter_name", "bat_order"
    ).orderBy("play_id")
    return df.withColumn("times_through_order", F.row_number().over(w).cast("int"))


def add_eff_inning(df: DataFrame) -> DataFrame:
    """W11 group-max rewrite: `_eff_inn = clip(inning + clip(9 - max_inn, 0), <= 9)`
    (reference add_pbp_metrics.py:128-129) — short games' final innings hit
    the 9th-inning WE/LI rows."""
    max_inn = F.max("inning").over(Window.partitionBy("contest_id"))
    return df.withColumn(
        "_eff_inn",
        F.least(
            F.col("inning") + F.greatest(F.lit(9) - max_inn, F.lit(0)), F.lit(9)
        ).cast("int"),
    )


def add_player_of_interest(df: DataFrame) -> DataFrame:
    """The play's subject (reference standardize_names' player_of_interest):
    the batter on batter events, the acting runner on runner-only events."""
    first_seg = F.split(F.col("play_text"), ";").getItem(0)
    runner = F.regexp_extract(
        first_seg, r"^\s*(.*?)\s+(?:stole|caught stealing|picked off|advanced|out at|scored)", 1
    )
    return df.withColumn(
        "player_name",
        F.when(
            F.col("event_type").isin(*sorted(_RUNNER_ONLY)) & (runner != ""), runner
        ).otherwise(F.col("batter_name")),
    )


def pbp_with_metrics(
    parsed: DataFrame,
    er_long: DataFrame,
    win_expectancy: DataFrame | None = None,
    leverage_index: DataFrame | None = None,
    pitching_lineups: DataFrame | None = None,
    lw: DataFrame | None = None,
) -> DataFrame:
    """Parsed plays -> the declared 76-column flagship table.

    Optional inputs degrade to NULL columns exactly like the reference's
    schema-on-read CSVs: no WE/LI tables -> win-prob columns NULL; no
    pitching lineups -> pitcher columns NULL; no linear weights -> woba
    NULL.
    """
    from d3d_etl_spark.pbp.metrics import LW_CLASSES, add_re24

    df = add_re24(parsed, er_long)
    df = add_game_flags(df)
    df = add_substitutions(df)
    df = add_runners_after(df)
    df = add_player_of_interest(df)
    df = df.withColumn(
        "batted_ball_type", batted_ball_type(F.col("play_text"), F.col("event_type"))
    )

    # teams: ride through when the source carries ids; else the
    # deterministic per-contest names (away bats Top)
    if "home_team_id" not in df.columns:
        df = df.withColumn(
            "home_team_id",
            F.concat(F.lit("T_"), F.col("contest_id").cast("string"), F.lit("_home")),
        ).withColumn(
            "away_team_id",
            F.concat(F.lit("T_"), F.col("contest_id").cast("string"), F.lit("_away")),
        )
    is_top = F.col("half") == "Top"
    df = (
        df.withColumn("bat_team_id", F.when(is_top, F.col("away_team_id")).otherwise(F.col("home_team_id")))
        .withColumn("pitch_team_id", F.when(is_top, F.col("home_team_id")).otherwise(F.col("away_team_id")))
    )
    for name_col, id_col in (
        ("away_team_name", "away_team_id"), ("home_team_name", "home_team_id"),
        ("bat_team_name", "bat_team_id"), ("pitch_team_name", "pitch_team_id"),
    ):
        if name_col not in df.columns:
            df = df.withColumn(name_col, F.col(id_col))

    # pitcher via the queue FSM when lineups are supplied
    if pitching_lineups is not None:
        from d3d_etl_spark.pbp.pitchers import fill_pitchers

        df = df.join(
            fill_pitchers(parsed, pitching_lineups), ["contest_id", "play_id"], "left"
        )
    elif "pitcher_name" not in df.columns:
        df = df.withColumn("pitcher_name", F.lit(None).cast("string"))
    df = add_times_through_order(df)

    # per-event wOBA weight (reference merges the lw table onto plays)
    if lw is not None:
        classes = F.coalesce(
            *[F.when(F.col("event_type") == k, v) for k, v in LW_CLASSES.items()]
        )
        weights = lw.select(
            "division", "year",
            F.col("events").alias("_ev_class"),
            F.col("normalized_weight").alias("_woba_w"),
        )
        df = (
            df.withColumn("_ev_class", classes)
            .join(F.broadcast(weights), ["division", "year", "_ev_class"], "left")
            .withColumn("woba", F.col("_woba_w"))
            .drop("_ev_class", "_woba_w")
        )
    else:
        df = df.withColumn("woba", F.lit(None).cast("double"))

    # win probability with the reference's effective-inning lookup rewrite
    if win_expectancy is not None and leverage_index is not None:
        from d3d_etl_spark.pbp.win_prob import add_win_probability

        df = add_eff_inning(df)
        staged = df.withColumn("_real_inning", F.col("inning")).withColumn(
            "inning", F.col("_eff_inn")
        )
        staged = add_win_probability(staged, win_expectancy, leverage_index)
        df = staged.withColumn("inning", F.col("_real_inning")).drop(
            "_real_inning", "_eff_inn"
        )
        df = (
            df.withColumnRenamed("we_before", "home_win_exp_before")
            .withColumnRenamed("we_after", "home_win_exp_after")
            .withColumn(
                "delta_home_win_exp",
                F.col("home_win_exp_after") - F.col("home_win_exp_before"),
            )
        )
    else:
        for c in (
            "home_win_exp_before", "home_win_exp_after", "delta_home_win_exp",
            "li", "wpa", "wpa_li",
        ):
            df = df.withColumn(c, F.lit(None).cast("double"))

    df = (
        df.withColumn("away_score", F.col("away_score_after"))
        .withColumn("home_score", F.col("home_score_after"))
        .withColumn("play_description", F.col("play_text"))
        .withColumn("int_bb_fl", (F.col("event_type") == "IBB").cast("int"))
        .withColumn("sh_fl", (F.col("event_type") == "SH").cast("int"))
        .withColumn("sf_fl", (F.col("event_type") == "SF").cast("int"))
        .withColumn("top_inning_fl", is_top.cast("int"))
        .withColumn("score_diff_before", (F.col("home_score_before") - F.col("away_score_before")).cast("int"))
        .withColumn("score_diff_after", (F.col("home_score_after") - F.col("away_score_after")).cast("int"))
        .withColumn("re_delta", F.col("re_after") - F.coalesce("re_before", F.lit(0.0)))
        .withColumn("rea", F.col("re24"))
        .withColumn("pitcher_id", F.when(F.col("pitcher_name").isNotNull(), hash_id(F.col("pitcher_name"))))
        .withColumn("batter_id", F.when(F.col("batter_name").isNotNull(), hash_id(F.col("batter_name"))))
        .withColumn("r1_id", F.when(F.col("r1_name").isNotNull(), hash_id(F.col("r1_name"))))
        .withColumn("r2_id", F.when(F.col("r2_name").isNotNull(), hash_id(F.col("r2_name"))))
        .withColumn("r3_id", F.when(F.col("r3_name").isNotNull(), hash_id(F.col("r3_name"))))
        .withColumn("player_id", F.when(F.col("player_name").isNotNull(), hash_id(F.col("player_name"))))
        .withColumn("high_leverage_fl", F.col("li") >= 2)
        .withColumn("low_leverage_fl", F.col("li") <= 0.85)
    )
    for c in ("date", "is_neutral_site"):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None))

    return df.select(
        *[F.col(name).cast(dtype).alias(name) for name, dtype in _COLUMNS]
    )
