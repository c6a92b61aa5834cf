"""Remaining leaderboard family as oracled queries over the materialized
plays: batted-ball profile, pitcher board (incl. W15 reliever detection),
and the team-grain batting rollup — reference batted_ball.py,
pitching.py:111-168, war_calculation/common.py:39-48.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.pbp.state import _RUNNER_ONLY
from d3d_etl_spark.queries.domain import (
    PARSED_PBP,
    _PA_EVENTS,
    _SO_EVENTS,
    _sql_in,
    materialized_parsed,
)
from d3d_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# domain_batted_ball — GB/FB/LD/PU distribution at ALL FOUR reference grains
# (batter, pitcher, batting team, pitching team — leaderboards/main.py
# output_files publishes batted_ball at each; batted_ball.py). One tagged
# union: grain + entity columns, identical metric schema per grain.
# ---------------------------------------------------------------------------

_GB = ("GO", "GDP", "TP", "DP")
_FB = ("FO", "SF")
_PU = ("PO", "IF", "FOUL")

# deterministic identity expressions shared with domain_pitching_board /
# domain_team_batting (and mirrored in SQL below): mid-game pitching change
# at inning 3, team ids from contest + half
_IDS_SQL = """
  SELECT *,
         'P' || (CASE WHEN inning <= 2 THEN '0' ELSE '1' END)
             || '_' || (CASE WHEN half = 'Top' THEN 'home' ELSE 'away' END)
             || '_' || CAST(contest_id AS VARCHAR) AS pitcher_name,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_away' ELSE '_home' END) AS bat_team_id,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_home' ELSE '_away' END) AS pitch_team_id
"""

_BB_GRAINS = (
    ("batter", "batter_name"),
    ("pitcher", "pitcher_name"),
    ("batting_team", "bat_team_id"),
    ("pitching_team", "pitch_team_id"),
)


def _bb_grain_sql(grain: str, entity: str) -> str:
    return f"""
  SELECT '{grain}' AS grain, division, year, {entity} AS entity,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_GB)} THEN 1 ELSE 0 END) AS BIGINT) AS gb,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_FB)} THEN 1 ELSE 0 END) AS BIGINT) AS fb,
         CAST(SUM(CASE WHEN event_type = 'LO' THEN 1 ELSE 0 END) AS BIGINT) AS ld,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_PU)} THEN 1 ELSE 0 END) AS BIGINT) AS pu
  FROM wp
  WHERE {entity} IS NOT NULL
  GROUP BY 1, 2, 3, 4"""


_BB_ORACLE = f"""
WITH wp AS (
{_IDS_SQL}
  FROM read_parquet('{PARSED_PBP.glob}')
),
b AS ({" UNION ALL ".join(_bb_grain_sql(g, e) for g, e in _BB_GRAINS)}),
t AS (SELECT *, gb + fb + ld + pu AS batted_balls FROM b WHERE gb + fb + ld + pu >= 1)
SELECT *,
       ROUND(CASE WHEN batted_balls != 0 THEN CAST(gb AS DOUBLE) / batted_balls ELSE 0.0 END, 3) AS gb_pct,
       ROUND(CASE WHEN batted_balls != 0 THEN CAST(fb AS DOUBLE) / batted_balls ELSE 0.0 END, 3) AS fb_pct,
       ROUND(CASE WHEN batted_balls != 0 THEN CAST(ld AS DOUBLE) / batted_balls ELSE 0.0 END, 3) AS ld_pct,
       ROUND(CASE WHEN batted_balls != 0 THEN CAST(pu AS DOUBLE) / batted_balls ELSE 0.0 END, 3) AS pu_pct
FROM t
"""


def _with_ids(parsed: DataFrame) -> DataFrame:
    """pitcher_name / bat_team_id / pitch_team_id identity columns (the
    Spark twin of _IDS_SQL)."""
    cid = F.col("contest_id").cast("string")
    is_top = F.col("half") == "Top"
    return (
        parsed.withColumn(
            "pitcher_name",
            F.concat(
                F.lit("P"),
                F.when(F.col("inning") <= 2, "0").otherwise("1"),
                F.lit("_"),
                F.when(is_top, "home").otherwise("away"),
                F.lit("_"),
                cid,
            ),
        )
        .withColumn(
            "bat_team_id",
            F.concat(F.lit("T_"), cid, F.when(is_top, "_away").otherwise("_home")),
        )
        .withColumn(
            "pitch_team_id",
            F.concat(F.lit("T_"), cid, F.when(is_top, "_home").otherwise("_away")),
        )
    )


@register("domain_batted_ball", _BB_ORACLE, tags=("domain",))
def domain_batted_ball(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from d3d_etl_spark.pbp.leaderboards import batted_ball_board

    wp = _with_ids(materialized_parsed(spark, sf_dir))
    parts = []
    for grain, entity in _BB_GRAINS:
        b = batted_ball_board(wp, min_bb=1, entity_col=entity)
        parts.append(
            b.select(
                F.lit(grain).alias("grain"), "division", "year",
                F.col(entity).alias("entity"),
                "gb", "fb", "ld", "pu", "batted_balls",
                "gb_pct", "fb_pct", "ld_pct", "pu_pct",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


# ---------------------------------------------------------------------------
# domain_pitching_board — pitcher grain with W15 reliever detection. The
# pitcher identity is a deterministic mid-game pitching change (starter
# through inning 2, reliever after), so the reliever's first play lands in
# inning 3 and the first-row-per-(contest,pitcher) window has real work.
# ---------------------------------------------------------------------------

_PITCH_ORACLE = f"""
WITH wp AS (
  SELECT *,
         'P' || (CASE WHEN inning <= 2 THEN '0' ELSE '1' END)
             || '_' || (CASE WHEN half = 'Top' THEN 'home' ELSE 'away' END)
             || '_' || CAST(contest_id AS VARCHAR) AS pitcher_name
  FROM read_parquet('{PARSED_PBP.glob}')
),
flagged AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY contest_id, pitcher_name ORDER BY play_id) = 1 AS first_play
  FROM wp
)
SELECT division, year, pitcher_name,
       CAST(COUNT(DISTINCT contest_id) AS BIGINT) AS games,
       CAST(SUM(outs_on_play) AS BIGINT) AS outs_recorded,
       CAST(SUM(CASE WHEN event_type IN {_sql_in(_SO_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS so,
       CAST(SUM(CASE WHEN event_type IN ('1B', '2B', '3B', 'HR') THEN 1 ELSE 0 END) AS BIGINT) AS hits_allowed,
       CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB', 'HBP') THEN 1 ELSE 0 END) AS BIGINT) AS free_passes,
       CAST(SUM(runs_on_play) AS BIGINT) AS runs_allowed,
       CAST(MAX(CASE WHEN first_play AND inning > 1 THEN 1 ELSE 0 END) AS INTEGER) AS entered_in_relief
FROM flagged
GROUP BY 1, 2, 3
"""


@register("domain_pitching_board", _PITCH_ORACLE, tags=("domain",))
def domain_pitching_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.pbp.leaderboards import pitching_board

    parsed = materialized_parsed(spark, sf_dir)
    with_pitcher = parsed.withColumn(
        "pitcher_name",
        F.concat(
            F.lit("P"),
            F.when(F.col("inning") <= 2, "0").otherwise("1"),
            F.lit("_"),
            F.when(F.col("half") == "Top", "home").otherwise("away"),
            F.lit("_"),
            F.col("contest_id").cast("string"),
        ),
    )
    return pitching_board(with_pitcher).withColumn(
        "entered_in_relief", F.col("entered_in_relief").cast("int")
    )


# ---------------------------------------------------------------------------
# domain_team_batting — the team-grain rollup (A7): per-batter board summed
# by team, rate re-derived from summed counts (never summed).
# ---------------------------------------------------------------------------

_TEAM_ORACLE = f"""
WITH plays AS (
  SELECT * REPLACE (
    'T_' || CAST(contest_id AS VARCHAR) || '_'
         || CASE WHEN half = 'Top' THEN 'away' ELSE 'home' END
    AS batting_team)
  FROM read_parquet('{PARSED_PBP.glob}')
),
player AS (
  SELECT division, year, batter_name,
         MIN(batting_team) AS batting_team,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS pa,
         CAST(SUM(CASE WHEN event_type IN ('1B', '2B', '3B', 'HR') THEN 1 ELSE 0 END) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = '1B' THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN event_type = '2B' THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN event_type = '3B' THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_SO_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS so,
         CAST(SUM(runs_on_play) AS BIGINT) AS runs_driven
  FROM plays
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) >= 1
),
team AS (
  SELECT division, year, batting_team,
         CAST(COUNT(*) AS BIGINT) AS n_players,
         CAST(SUM(pa) AS BIGINT) AS pa,
         CAST(SUM(h) AS BIGINT) AS h,
         CAST(SUM(b1) AS BIGINT) AS b1,
         CAST(SUM(b2) AS BIGINT) AS b2,
         CAST(SUM(b3) AS BIGINT) AS b3,
         CAST(SUM(hr) AS BIGINT) AS hr,
         CAST(SUM(bb) AS BIGINT) AS bb,
         CAST(SUM(hbp) AS BIGINT) AS hbp,
         CAST(SUM(so) AS BIGINT) AS so,
         CAST(SUM(runs_driven) AS BIGINT) AS runs_driven
  FROM player
  GROUP BY 1, 2, 3
)
SELECT *,
       CASE WHEN pa != 0 THEN CAST(h + bb + hbp AS DOUBLE) / pa ELSE 0.0 END AS ob_pct
FROM team
"""


@register("domain_team_batting", _TEAM_ORACLE, tags=("domain",))
def domain_team_batting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.math import safe_div
    from d3d_etl_spark.pbp.leaderboards import batting_board, team_rollup

    parsed = materialized_parsed(spark, sf_dir).withColumn(
        "batting_team",
        F.concat(
            F.lit("T_"), F.col("contest_id").cast("string"), F.lit("_"),
            F.when(F.col("half") == "Top", "away").otherwise("home"),
        ),
    )
    player = batting_board(parsed, min_pa=1).drop("re24_total", "ob_pct").join(
        parsed.where(F.col("batter_name").isNotNull())
        .groupBy("division", "year", "batter_name")
        .agg(F.min("batting_team").alias("batting_team")),
        ["division", "year", "batter_name"],
    )
    team = team_rollup(player, ["division", "year", "batting_team"])
    # team_rollup doesn't count members; recompute the count + rate here
    counts = player.groupBy("division", "year", "batting_team").agg(
        F.count("*").alias("n_players")
    )
    return (
        team.join(counts, ["division", "year", "batting_team"])
        .select(
            "division", "year", "batting_team", "n_players",
            "pa", "h", "b1", "b2", "b3", "hr", "bb", "hbp", "so", "runs_driven",
            safe_div(
                (F.col("h") + F.col("bb") + F.col("hbp")).cast("double"), F.col("pa")
            ).alias("ob_pct"),
        )
    )


# ---------------------------------------------------------------------------
# domain_baserunning — runner-grain baserunning stats (A9 + T2/T3;
# reference baserunning.py): explode narration segments, classify each
# with one regexp, aggregate per runner. Segment 0 is the batter's action
# except on runner-only events.
# ---------------------------------------------------------------------------

_RUNNER_ACTION_SQL = (
    r"^\s*(.*?)\s+(stole (?:second|third|home)|caught stealing|picked off"
    r"|advanced to (?:second|third|home)|scored|out at (?:second|third|home))"
)
_RUNNER_ONLY_IN = _sql_in(_RUNNER_ONLY)

_BR_METRICS_SQL = """
         CAST(SUM(CASE WHEN action LIKE 'stole%' THEN 1 ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN action = 'caught stealing' THEN 1 ELSE 0 END) AS BIGINT) AS cs,
         CAST(SUM(CASE WHEN action = 'picked off' THEN 1 ELSE 0 END) AS BIGINT) AS pk,
         CAST(SUM(CASE WHEN action LIKE 'advanced%' THEN 1 ELSE 0 END) AS BIGINT) AS advances,
         CAST(SUM(CASE WHEN action = 'scored' THEN 1 ELSE 0 END) AS BIGINT) AS runs_scored,
         CAST(SUM(CASE WHEN action LIKE 'out at%' THEN 1 ELSE 0 END) AS BIGINT) AS outs_on_bases
"""

_BR_ORACLE = f"""
WITH segs AS (
  SELECT division, year, event_type,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_away' ELSE '_home' END) AS bat_team_id,
         unnest(string_split(play_text, ';')) AS seg,
         unnest(range(len(string_split(play_text, ';')))) AS pos
  FROM read_parquet('{PARSED_PBP.glob}')
),
classed AS (
  SELECT division, year, bat_team_id,
         regexp_extract(seg, '{_RUNNER_ACTION_SQL}', 1) AS runner_name,
         lower(regexp_extract(seg, '{_RUNNER_ACTION_SQL}', 2)) AS action
  FROM segs
  WHERE (pos > 0 OR event_type IN {_RUNNER_ONLY_IN})
),
board AS (
  SELECT 'runner' AS grain, division, year, runner_name AS entity,
{_BR_METRICS_SQL}
  FROM classed
  WHERE runner_name != '' AND action != ''
  GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT 'team' AS grain, division, year, bat_team_id AS entity,
{_BR_METRICS_SQL}
  FROM classed
  WHERE runner_name != '' AND action != ''
  GROUP BY 1, 2, 3, 4
),
t AS (
  SELECT *, sb + cs + pk + advances + runs_scored + outs_on_bases AS n_events
  FROM board
)
SELECT *,
       ROUND(CASE WHEN sb + cs != 0 THEN CAST(sb AS DOUBLE) / (sb + cs) ELSE 0.0 END, 3) AS sb_pct
FROM t
WHERE n_events >= 1
"""


@register("domain_baserunning", _BR_ORACLE, tags=("domain",))
def domain_baserunning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runner grain + team rollup (reference baserunning.py:120-133) as one
    tagged union over the same classified narration segments."""
    from d3d_etl_spark.pbp.leaderboards import baserunning_board

    wp = _with_ids(materialized_parsed(spark, sf_dir))
    runner = baserunning_board(wp, min_events=1)
    team = baserunning_board(wp, min_events=1, entity_col="bat_team_id")

    def _shape(df: DataFrame, grain: str, entity: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"), "division", "year",
            F.col(entity).alias("entity"),
            "sb", "cs", "pk", "advances", "runs_scored", "outs_on_bases",
            "n_events", "sb_pct",
        )

    return _shape(runner, "runner", "runner_name").unionByName(
        _shape(team, "team", "bat_team_id")
    )
