"""Handedness-splits leaderboard family (reference splits.py:30-58 +
handedness maps leaderboards/common.py:89-113): the vs-LHP/vs-RHP boards at
all four reference grains — batter, pitcher, batting team, pitching team
(8 of the reference's 20 published tables are splits or need handedness,
main.py:120-128).

Pitcher identity comes from the REAL pitcher-queue FSM (pbp/pitchers.
fill_pitchers) over deterministic generated lineups. The synthetic
narration contains no pitching substitutions, so the active pitcher is
always the starter (pitch_order 0 of the fielding side) — which IS
SQL-expressible, so the oracle derives the same pitcher directly. If the
generator ever grows sub events, these oracles fail loudly instead of
silently diverging. Handedness is an md5-derived dimension
(pbp/leaderboards.handedness_dim) computable identically by any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier
from d3d_etl_spark.pbp.leaderboards import (
    _HIT_EVENTS,
    _OB_EVENTS,
    handedness_dim,
    handedness_splits_board,
)
from d3d_etl_spark.pbp.events import PA_EVENTS
from d3d_etl_spark.queries.domain import PARSED_PBP, _sql_in, materialized_parsed
from d3d_etl_spark.queries.registry import register

_NONAB = ("BB", "IBB", "HBP", "SF", "SH")


def _plays_with_hands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed plays + pitcher (queue FSM) + handedness + pitching team."""
    from d3d_etl_spark.pbp.pitchers import fill_pitchers

    # the generator has no team dimension, so batting_team is NULL in the
    # materialized plays — derive the deterministic per-contest team name
    # (away bats the Top half) the same way the oracle does
    parsed = materialized_parsed(spark, sf_dir).withColumn(
        "batting_team",
        F.coalesce(
            F.col("batting_team"),
            F.concat(
                F.lit("T_"), F.col("contest_id").cast("string"), F.lit("_"),
                F.when(F.col("half") == "Top", "away").otherwise("home"),
            ),
        ),
    )
    lineups = (
        parsed.select("contest_id")
        .distinct()
        .select(
            "contest_id",
            F.explode(F.array(F.lit("home"), F.lit("away"))).alias("side"),
        )
        .select(
            "contest_id", "side",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("pitch_order"),
        )
        .withColumn(
            "player_name",
            F.concat(
                F.lit("P"), F.col("pitch_order").cast("string"), F.lit("_"),
                F.col("side"), F.lit("_"), F.col("contest_id").cast("string"),
            ),
        )
    )
    pitchers = fill_pitchers(parsed, lineups)
    half_team = parsed.groupBy("contest_id", "half").agg(
        F.min("batting_team").alias("bt")
    )
    flip = half_team.select(
        "contest_id",
        F.when(F.col("half") == "Top", "Bottom").otherwise("Top").alias("half"),
        F.col("bt").alias("pitching_team"),
    )
    return (
        parsed.join(pitchers, ["contest_id", "play_id"])
        .join(F.broadcast(flip), ["contest_id", "half"], "left")
        .withColumn("throws", handedness_dim(F.col("pitcher_name"), "throws"))
        .withColumn("bats", handedness_dim(F.col("batter_name"), "bats"))
    )


_HANDED_CTES = f"""
p AS (
  SELECT * REPLACE (
    COALESCE(batting_team,
             'T_' || CAST(contest_id AS VARCHAR) || '_'
                  || CASE WHEN half = 'Top' THEN 'away' ELSE 'home' END)
    AS batting_team)
  FROM read_parquet('{PARSED_PBP.glob}')
),
wp AS (
  SELECT p.*,
         'P0_' || (CASE WHEN p.half = 'Top' THEN 'home' ELSE 'away' END)
               || '_' || CAST(p.contest_id AS VARCHAR) AS pitcher_name
  FROM p
),
half_team AS (
  SELECT contest_id, half, MIN(batting_team) AS bt FROM p GROUP BY 1, 2
),
flip AS (
  SELECT contest_id,
         CASE WHEN half = 'Top' THEN 'Bottom' ELSE 'Top' END AS half,
         bt AS pitching_team
  FROM half_team
),
handed AS (
  SELECT wp.*, f.pitching_team,
         CASE WHEN substr(md5(wp.pitcher_name), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'L' ELSE 'R' END AS throws,
         CASE WHEN substr(md5(wp.batter_name), 1, 1)
                   IN ('0','1','2','3','4','5') THEN 'L'
              WHEN substr(md5(wp.batter_name), 1, 1) IN ('e','f') THEN 'S'
              ELSE 'R' END AS bats
  FROM wp
  LEFT JOIN flip f ON wp.contest_id = f.contest_id AND wp.half = f.half
)
"""


# ---------------------------------------------------------------------------
# domain_splits — all four reference grains as ONE tagged union (the
# reference publishes them as four tables,
# leaderboards/main.py:120-128). Per-grain the opposing-hand column differs
# (batter-side splits vs pitcher THROWS, pitcher-side vs batter BATS), so
# the split labels are unified to vs_l / vs_r ("vs left/right-handed
# opponent"); metric columns are identical across grains.
# ---------------------------------------------------------------------------

_SUFFIXES = (("overall", None), ("vs_l", "L"), ("vs_r", "R"))
_GRAINS = (
    ("batter", "batter_name", "throws"),
    ("pitcher", "pitcher_name", "bats"),
    ("batting_team", "batting_team", "throws"),
    ("pitching_team", "pitching_team", "bats"),
)


def _grain_select(grain: str, entity: str, opp_col: str) -> str:
    cols = []
    rates = []
    for suf, hand in _SUFFIXES:
        cond = "TRUE" if hand is None else f"{opp_col} = '{hand}'"
        pa = f"SUM(CASE WHEN {cond} AND event_type IN {_sql_in(PA_EVENTS)} THEN 1 ELSE 0 END)"
        nonab = f"SUM(CASE WHEN {cond} AND event_type IN {_sql_in(_NONAB)} THEN 1 ELSE 0 END)"
        h = f"SUM(CASE WHEN {cond} AND event_type IN {_sql_in(_HIT_EVENTS)} THEN 1 ELSE 0 END)"
        ob = f"SUM(CASE WHEN {cond} AND event_type IN {_sql_in(_OB_EVENTS)} THEN 1 ELSE 0 END)"
        cols += [
            f"CAST({pa} AS BIGINT) AS pa_{suf}",
            f"CAST({pa} - {nonab} AS BIGINT) AS ab_{suf}",
            f"CAST({h} AS BIGINT) AS h_{suf}",
            f"CAST({ob} AS BIGINT) AS ob_{suf}",
        ]
        rates += [
            f"CASE WHEN ab_{suf} != 0 THEN CAST(h_{suf} AS DOUBLE) / ab_{suf} ELSE 0.0 END AS ba_{suf}",
            f"CASE WHEN pa_{suf} != 0 THEN CAST(ob_{suf} AS DOUBLE) / pa_{suf} ELSE 0.0 END AS ob_pct_{suf}",
        ]
    return f"""
SELECT b.*, {", ".join(rates)}
FROM (
  SELECT '{grain}' AS grain, division, year, {entity} AS entity, {", ".join(cols)}
  FROM handed
  WHERE {entity} IS NOT NULL
  GROUP BY 1, 2, 3, 4
  HAVING SUM(CASE WHEN event_type IN {_sql_in(PA_EVENTS)} THEN 1 ELSE 0 END) >= 1
) b
"""


_SPLITS_ORACLE = f"WITH {_HANDED_CTES}\n" + "\nUNION ALL\n".join(
    _grain_select(g, e, o) for g, e, o in _GRAINS
)


@register("domain_splits", _SPLITS_ORACLE, tags=("domain", "splits"))
def domain_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    wp = barrier(_plays_with_hands(spark, sf_dir))  # 4 grain boards
    metric_cols = [f"{m}_{s}" for s, _ in _SUFFIXES for m in ("pa", "ab", "h", "ob")] + [
        f"{m}_{s}" for s, _ in _SUFFIXES for m in ("ba", "ob_pct")
    ]
    parts = []
    for grain, entity, opp in _GRAINS:
        b = handedness_splits_board(wp, ["division", "year", entity], opp, _SUFFIXES)
        parts.append(
            b.select(
                F.lit(grain).alias("grain"), "division", "year",
                F.col(entity).alias("entity"), *metric_cols,
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out
