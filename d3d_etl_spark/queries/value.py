"""Value-board family (reference leaderboards/value.py:34-135): WPA value
tables at batter / pitcher / batting-team / pitching-team grain with the
reference's exact column contract (wpa, neg_wpa, pos_wpa, rea, rew, pli,
wpa_li, clutch), oracled over the materialized plays.

Win expectancy & leverage come from a CLOSED-FORM rational lookup (pure
+/* arithmetic, no exp/log), generated as the full
(inning, half, runners, outs, score_diff) cross-product table: the Spark
side drives it through the real `add_win_probability` broadcast-lookup
join (state-after rewrite, diff clipping, game-over branch included),
while the oracle evaluates the same closed form inline — identical IEEE
expression trees, so the hash matches bit-for-bit.

Per-play wpa/li/wpa_li/rea quantize to 1e-9-scaled longs before any
aggregation (never-sum-raw-doubles); every published double is a fixed
expression tree over those exact sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier
from d3d_etl_spark.queries.domain import PARSED_PBP, _sql_in, materialized_parsed
from d3d_etl_spark.queries.registry import register

_CODES = ["NNN", "YNN", "NYN", "YYN", "NNY", "YNY", "NYY", "YYY"]


def _we_py(inning: int, half: str, runners: str, outs: int, diff: int) -> float:
    n = runners.count("Y")
    s = 1.0 if half == "Bottom" else -1.0
    raw = 0.5 + 0.042 * diff + s * (0.013 * n - 0.009 * outs) + 0.0035 * inning
    return min(0.97, max(0.03, raw))


def _li_py(runners: str, outs: int, diff: int) -> float:
    n = runners.count("Y")
    return 0.47 + 0.11 * n + 0.06 * outs + 0.008 * abs(diff)


def _we_sql(inning: str, half: str, runners: str, outs: str, diff: str) -> str:
    # integer operands are cast to DOUBLE so DuckDB can't take its exact
    # DECIMAL x INTEGER path — the Spark side's lookup values come from
    # Python float arithmetic, and only the IEEE tree matches it by
    # construction (see the domain_war_team_sos ULP incident)
    n = f"CAST(len(replace({runners}, 'N', '')) AS DOUBLE)"
    s = f"(CASE WHEN {half} = 'Bottom' THEN 1.0 ELSE -1.0 END)"
    raw = (f"0.5 + 0.042 * CAST({diff} AS DOUBLE) + {s} * (0.013 * {n} - 0.009 * CAST({outs} AS DOUBLE))"
           f" + 0.0035 * CAST({inning} AS DOUBLE)")
    return f"LEAST(0.97, GREATEST(0.03, {raw}))"


def _li_sql(runners: str, outs: str, diff: str) -> str:
    n = f"CAST(len(replace({runners}, 'N', '')) AS DOUBLE)"
    return (f"0.47 + 0.11 * {n} + 0.06 * CAST({outs} AS DOUBLE)"
            f" + 0.008 * abs(CAST({diff} AS DOUBLE))")


def _lookups(spark: SparkSession):
    rows = [
        (i, h, r, o, d, _we_py(i, h, r, o, d), _li_py(r, o, d))
        for i in range(1, 10)
        for h in ("Top", "Bottom")
        for r in _CODES
        for o in range(3)
        for d in range(-10, 11)
    ]
    df = spark.createDataFrame(
        rows,
        "inning int, half string, runners string, outs int, score_diff int, "
        "win_expectancy double, leverage_index double",
    )
    we = df.select("inning", "half", "runners", "outs", "score_diff", "win_expectancy")
    li = df.select("inning", "half", "runners", "outs", "score_diff", "leverage_index")
    return we, li


def _wp_plays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized plays + RE24 + win probability + team/pitcher identity,
    with the micro-quantized metric columns the boards aggregate."""
    from d3d_etl_spark.pbp.metrics import add_re24, expected_runs_long
    from d3d_etl_spark.pbp.win_prob import add_win_probability

    parsed = materialized_parsed(spark, sf_dir)
    plays = add_re24(parsed, expected_runs_long(parsed))
    we, li = _lookups(spark)
    wp = add_win_probability(plays, we, li)
    is_top = F.col("half") == "Top"
    cid = F.col("contest_id").cast("string")
    u = lambda c: F.round(F.col(c) * 1_000_000_000).cast("long")  # noqa: E731
    return (
        wp.withColumn(
            "bat_team_id",
            F.concat(F.lit("T_"), cid, F.when(is_top, "_away").otherwise("_home")),
        )
        .withColumn(
            "pitch_team_id",
            F.concat(F.lit("T_"), cid, F.when(is_top, "_home").otherwise("_away")),
        )
        .withColumn(
            "pitcher_name",
            F.concat(
                F.lit("P0_"), F.when(is_top, "home").otherwise("away"), F.lit("_"), cid
            ),
        )
        .withColumn("wpa_u", u("wpa"))
        .withColumn("wpali_u", u("wpa_li"))
        .withColumn("li_u", u("li"))
        .withColumn("rea_u", u("re24"))
    )


# shared oracle CTEs: plays -> state-after -> closed-form WE/LI -> wpa ->
# micro-quantized metric columns
_WP_CTES = f"""
p0 AS (
  SELECT *,
         GREATEST(-10, LEAST(10, home_score_before - away_score_before)) AS dby,
         GREATEST(-10, LEAST(10, home_score_after - away_score_after)) AS day
  FROM read_parquet('{PARSED_PBP.glob}')
),
st AS (
  SELECT *,
         CASE WHEN outs_after >= 3 AND half = 'Bottom' THEN inning + 1 ELSE inning END AS a_inning,
         CASE WHEN outs_after >= 3 THEN (CASE WHEN half = 'Top' THEN 'Bottom' ELSE 'Top' END)
              ELSE half END AS a_half,
         CASE WHEN outs_after >= 3 THEN 'NNN' ELSE bases_after END AS a_runners,
         CASE WHEN outs_after >= 3 THEN 0 ELSE outs_after END AS a_outs
  FROM p0
),
wp AS (
  SELECT *,
         {_we_sql("inning", "half", "bases_before", "outs_before", "dby")} AS we_b,
         CASE WHEN a_inning > 9 AND a_half = 'Top' THEN
                CASE WHEN day > 0 THEN 1.0 WHEN day < 0 THEN 0.0 ELSE 0.5 END
              ELSE {_we_sql("a_inning", "a_half", "a_runners", "a_outs", "day")}
         END AS we_a,
         {_li_sql("bases_before", "outs_before", "dby")} AS li
  FROM st
),
metrics AS (
  SELECT *,
         CASE WHEN half = 'Bottom' THEN we_a - we_b ELSE -(we_a - we_b) END AS wpa
  FROM wp
),
q AS (
  SELECT m.*,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_away' ELSE '_home' END) AS bat_team_id,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_home' ELSE '_away' END) AS pitch_team_id,
         'P0_' || (CASE WHEN half = 'Top' THEN 'home' ELSE 'away' END)
               || '_' || CAST(contest_id AS VARCHAR) AS pitcher_name,
         CAST(ROUND(wpa * 1000000000) AS BIGINT) AS wpa_u,
         CAST(ROUND((CASE WHEN li > 0 THEN wpa / li ELSE 0.0 END) * 1000000000) AS BIGINT) AS wpali_u,
         CAST(ROUND(li * 1000000000) AS BIGINT) AS li_u,
         CAST(ROUND((
           (CASE WHEN m.outs_after >= 3 THEN 0.0 ELSE COALESCE(ea.erv, 0.0) END)
           - COALESCE(eb.erv, 0.0) + CAST(m.runs_on_play AS DOUBLE)
         ) * 1000000000) AS BIGINT) AS rea_u
  FROM metrics m
  LEFT JOIN (
    SELECT division, year, bases_before AS bases, outs_before AS outs,
           CAST(SUM(runs_roi) AS DOUBLE) / COUNT(*) AS erv
    FROM read_parquet('{PARSED_PBP.glob}')
    WHERE outs_before <= 2 GROUP BY 1, 2, 3, 4
  ) eb ON m.division = eb.division AND m.year = eb.year
      AND m.bases_before = eb.bases AND m.outs_before = eb.outs
  LEFT JOIN (
    SELECT division, year, bases_before AS bases, outs_before AS outs,
           CAST(SUM(runs_roi) AS DOUBLE) / COUNT(*) AS erv
    FROM read_parquet('{PARSED_PBP.glob}')
    WHERE outs_before <= 2 GROUP BY 1, 2, 3, 4
  ) ea ON m.division = ea.division AND m.year = ea.year
      AND m.bases_after = ea.bases AND m.outs_after = ea.outs
),
rw AS (
  SELECT division, year,
         9.0 * (CAST(SUM(runs_on_play) AS DOUBLE) * 3.0 / SUM(outs_on_play)) * 1.5 + 3.0 AS runs_win
  FROM read_parquet('{PARSED_PBP.glob}')
  GROUP BY 1, 2
)
"""


def _value_board(
    plays: DataFrame,
    runs_win: DataFrame,
    id_col: str,
    id_alias: str,
    team_col: str | None,
    flip: bool,
) -> DataFrame:
    sgn = -1 if flip else 1
    split_src = (-F.col("wpa_u")) if flip else F.col("wpa_u")
    aggs = [
        (sgn * F.sum("wpa_u")).cast("double") / 1e9,
        F.sum(F.when(split_src < 0, split_src).otherwise(F.lit(0))).cast("double") / 1e9,
        F.sum(F.when(split_src > 0, split_src).otherwise(F.lit(0))).cast("double") / 1e9,
        (sgn * F.sum("rea_u")).cast("double") / 1e9,
        F.sum("li_u").cast("double") / F.count("*") / 1e9,
        (sgn * F.sum("wpali_u")).cast("double") / 1e9,
    ]
    names = ["wpa", "neg_wpa", "pos_wpa", "rea", "pli", "wpa_li"]
    group = [F.col(id_col).alias(id_alias)] + (
        [F.col(team_col).alias("team_id"), F.col(team_col).alias("team_name")]
        if team_col
        else []
    )
    board = (
        plays.where(F.col(id_col).isNotNull())
        .join(F.broadcast(runs_win), ["division", "year"])
        .groupBy(*group)
        .agg(
            *[a.alias(n) for a, n in zip(aggs, names)],
            F.min("runs_win").alias("_rw"),
        )
    )
    return board.select(
        *[id_alias, *(["team_id", "team_name"] if team_col else [])],
        "wpa", "neg_wpa", "pos_wpa", "rea",
        (F.col("rea") / F.col("_rw")).alias("rew"),
        "pli", "wpa_li",
        F.when(
            F.col("pli") > 0, F.col("wpa") / F.col("pli") - F.col("wpa_li")
        ).alias("clutch"),
    )


def _runs_win(plays: DataFrame) -> DataFrame:
    return plays.groupBy("division", "year").agg(
        (
            9.0
            * (F.sum("runs_on_play").cast("double") * 3.0 / F.sum("outs_on_play"))
            * 1.5
            + 3.0
        ).alias("runs_win")
    )


# ---------------------------------------------------------------------------
# domain_value — all four reference value-board grains as ONE tagged union
# (reference value.py:34-135 publishes batter /
# pitcher / batting-team / pitching-team tables with identical columns).
# Pitching grains keep the reference's sign flips. entity = player or team
# id; team_id = the entity's team (== entity at team grain).
# ---------------------------------------------------------------------------

_VALUE_GRAINS = (
    ("batter", "batter_name", "bat_team_id", False),
    ("pitcher", "pitcher_name", "pitch_team_id", True),
    ("batting_team", "bat_team_id", "bat_team_id", False),
    ("pitching_team", "pitch_team_id", "pitch_team_id", True),
)


def _grain_oracle(grain: str, id_expr: str, team_expr: str, flip: bool) -> str:
    neg = "-" if flip else ""
    src = f"-wpa_u" if flip else "wpa_u"
    return f"""
SELECT '{grain}' AS grain, {id_expr} AS entity, {team_expr} AS team_id,
       CAST({neg}SUM(wpa_u) AS DOUBLE) / 1e9 AS wpa,
       CAST(SUM(CASE WHEN {src} < 0 THEN {src} ELSE 0 END) AS DOUBLE) / 1e9 AS neg_wpa,
       CAST(SUM(CASE WHEN {src} > 0 THEN {src} ELSE 0 END) AS DOUBLE) / 1e9 AS pos_wpa,
       CAST({neg}SUM(rea_u) AS DOUBLE) / 1e9 AS rea,
       (CAST({neg}SUM(rea_u) AS DOUBLE) / 1e9) / MIN(rw.runs_win) AS rew,
       CAST(SUM(li_u) AS DOUBLE) / COUNT(*) / 1e9 AS pli,
       CAST({neg}SUM(wpali_u) AS DOUBLE) / 1e9 AS wpa_li,
       CASE WHEN CAST(SUM(li_u) AS DOUBLE) / COUNT(*) / 1e9 > 0
            THEN (CAST({neg}SUM(wpa_u) AS DOUBLE) / 1e9)
                 / (CAST(SUM(li_u) AS DOUBLE) / COUNT(*) / 1e9)
                 - CAST({neg}SUM(wpali_u) AS DOUBLE) / 1e9
       END AS clutch
FROM q JOIN rw ON q.division = rw.division AND q.year = rw.year
WHERE {id_expr} IS NOT NULL
GROUP BY 1, 2, 3
"""


_VALUE_ORACLE = f"WITH {_WP_CTES}\n" + "\nUNION ALL\n".join(
    _grain_oracle(g, i, t, fl) for g, i, t, fl in _VALUE_GRAINS
)


@register("domain_value", _VALUE_ORACLE, tags=("domain", "value"))
def domain_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the WE/LI-joined play table feeds runs_win + four grain boards:
    # materialize the spine once instead of re-deriving the RE24 +
    # win-probability chain per grain
    plays = barrier(_wp_plays(spark, sf_dir))
    rw = _runs_win(plays)
    parts = []
    for grain, id_col, team_col, flip in _VALUE_GRAINS:
        board = _value_board(plays, rw, id_col, "entity", team_col, flip=flip)
        parts.append(
            board.select(
                F.lit(grain).alias("grain"), "entity", "team_id",
                "wpa", "neg_wpa", "pos_wpa", "rea", "rew", "pli", "wpa_li", "clutch",
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out


# ---------------------------------------------------------------------------
# domain_situational — the reference's full situation set (situational.py:
# 19-26: overall / risp / runners_on / high_leverage / low_leverage) as the
# generic condition-splits board over the WP plays; leverage comes from the
# same closed-form LI both engines compute.
# ---------------------------------------------------------------------------

_SIT_NAMES = ["overall", "risp", "runners_on", "high_leverage", "low_leverage"]

_SIT_CONDS_SQL = {
    "overall": "TRUE",
    "risp": "substr(bases_before, 2, 2) != 'NN'",
    "runners_on": "bases_before != 'NNN'",
    "high_leverage": "li >= 2",
    "low_leverage": "li <= 0.85",
}

from d3d_etl_spark.pbp.events import PA_EVENTS as _PA_EVENTS_SRC

_PA_IN = _sql_in(_PA_EVENTS_SRC)
_HIT_IN = "('1B', '2B', '3B', 'HR')"
_OB_IN = "('1B', '2B', '3B', 'HR', 'BB', 'IBB', 'HBP')"
_NONAB_IN = "('BB', 'IBB', 'HBP', 'SF', 'SH')"


# the reference publishes situational at all four grains
# (situational.py:47-150: batter, pitcher, batting team, pitching team) —
# one tagged union with identical metric columns per grain
_SIT_GRAINS = (
    ("batter", "batter_name"),
    ("pitcher", "pitcher_name"),
    ("batting_team", "bat_team_id"),
    ("pitching_team", "pitch_team_id"),
)


def _sit_grain_sql(grain: str, entity: str) -> str:
    return f"""
  SELECT '{grain}' AS grain, division, year, {entity} AS entity, {", ".join(
    f"CAST(SUM(CASE WHEN {_SIT_CONDS_SQL[s]} AND event_type IN {_PA_IN} THEN 1 ELSE 0 END) AS BIGINT) AS pa_{s}, "
    f"CAST(SUM(CASE WHEN {_SIT_CONDS_SQL[s]} AND event_type IN {_PA_IN} THEN 1 ELSE 0 END)"
    f" - SUM(CASE WHEN {_SIT_CONDS_SQL[s]} AND event_type IN {_NONAB_IN} THEN 1 ELSE 0 END) AS BIGINT) AS ab_{s}, "
    f"CAST(SUM(CASE WHEN {_SIT_CONDS_SQL[s]} AND event_type IN {_HIT_IN} THEN 1 ELSE 0 END) AS BIGINT) AS h_{s}, "
    f"CAST(SUM(CASE WHEN {_SIT_CONDS_SQL[s]} AND event_type IN {_OB_IN} THEN 1 ELSE 0 END) AS BIGINT) AS ob_{s}"
    for s in _SIT_NAMES)}
  FROM q
  WHERE {entity} IS NOT NULL
  GROUP BY 1, 2, 3, 4
  HAVING SUM(CASE WHEN event_type IN {_PA_IN} THEN 1 ELSE 0 END) >= 1"""


_SIT_ORACLE = f"""
WITH {_WP_CTES}
SELECT b.*, {", ".join(
    f"CASE WHEN ab_{s} != 0 THEN CAST(h_{s} AS DOUBLE) / ab_{s} ELSE 0.0 END AS ba_{s}, "
    f"CASE WHEN pa_{s} != 0 THEN CAST(ob_{s} AS DOUBLE) / pa_{s} ELSE 0.0 END AS ob_pct_{s}"
    for s in _SIT_NAMES)}
FROM ({" UNION ALL ".join(_sit_grain_sql(g, e) for g, e in _SIT_GRAINS)}) b
"""


@register("domain_situational", _SIT_ORACLE, tags=("domain", "splits"))
def domain_situational(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from d3d_etl_spark.pbp.leaderboards import (
        condition_splits_board,
        risp_cond,
        runners_on_cond,
    )

    plays = barrier(_wp_plays(spark, sf_dir))  # 4 grain boards
    conds = {
        "overall": None,
        "risp": risp_cond(),
        "runners_on": runners_on_cond(),
        "high_leverage": F.col("li") >= 2,
        "low_leverage": F.col("li") <= 0.85,
    }
    metric_cols = [
        f"{m}_{s}" for s in _SIT_NAMES for m in ("pa", "ab", "h", "ob")
    ] + [f"{m}_{s}" for s in _SIT_NAMES for m in ("ba", "ob_pct")]
    parts = []
    for grain, entity in _SIT_GRAINS:
        b = condition_splits_board(plays, ["division", "year", entity], conds, min_pa=1)
        parts.append(
            b.select(
                F.lit(grain).alias("grain"), "division", "year",
                F.col(entity).alias("entity"), *metric_cols,
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)
