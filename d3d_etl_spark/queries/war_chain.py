"""The rest of the reference WAR surface as oracled queries: the guts
row, batting and pitching WAR (reference war_calculation/batting.py:
363-418, pitching.py:10-87, calculator.py:124-319), the team rollup +
SoS reward/punish + division normalization chain (sos_utils.py:38-138,
get_war.py:142-188), the park and conference adjuncts, and the year-gated
score-delta run-counting mode (reference pbp_parser/main.py:57-89).

Each query builds its own cubes from the materialized parse (team-id
dims, SB/CS credited through r1_name, the pitcher identity) and runs the
production chain on them: run_value_guts (queries/domain.py) ->
pbp/war.batting_war / pitching_war -> sos_adjust / team_war /
normalize_division_war / add_park_adjusted / add_conference_rates. The
oracles build the same cubes in SQL and mirror the chain through
domain._run_value_ctes and domain._batting_war_ctes. Every aggregate of
doubles goes through 1e9-scaled longs (functions/money.py), so every
published double is a fixed expression tree over exact integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.strings import sql_md5_int, sql_md5_int_seeded
from d3d_etl_spark.io import barrier
from d3d_etl_spark.queries.domain import (
    _PA_EVENTS,
    _PARSED_SRC,
    PARSED_PBP,
    _SO_EVENTS,
    _batting_war_ctes,
    _run_value_ctes,
    _sql_in,
    materialized_parsed,
    run_value_guts,
)
from d3d_etl_spark.queries.registry import register

_SO_IN = _sql_in(_SO_EVENTS)
_PA_IN = _sql_in(_PA_EVENTS)
_LG_ERA = 5.5  # pitching_war default replacement anchor

# ---------------------------------------------------------------------------
# The cubes. Batting: one row per batter with >= 1 PA, team id = the
# batting side's T_<contest>_<away|home>, SB/CS credited to the runner on
# first before the play. Pitching: the deterministic mid-game pitching
# change shared with domain_pitching_board; ip round-trips through the
# reference's base-3 "6.2" codec (M4) into pitching_war.
# ---------------------------------------------------------------------------


def _batting_cube(parsed: DataFrame) -> DataFrame:
    """pbp/war.batting_war's cube_batting from plays. bb includes IBB
    (saber.woba's unintentional walks are bb - ibb)."""
    ev = F.col("event_type")
    n = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    bat_team = F.concat(
        F.lit("T_"),
        F.col("contest_id").cast("string"),
        F.when(F.col("half") == "Top", "_away").otherwise("_home"),
    )
    counting = (
        parsed.where(F.col("batter_name").isNotNull())
        .groupBy("division", "year", "batter_name")
        .agg(
            F.min(bat_team).alias("team_id"),
            n(ev.isin(*_PA_EVENTS)).alias("_pa"),
            n(ev.isin("1B", "2B", "3B", "HR")).alias("h"),
            n(ev == "2B").alias("double_"),
            n(ev == "3B").alias("triple_"),
            n(ev == "HR").alias("hr"),
            n(ev.isin("BB", "IBB")).alias("bb"),
            n(ev == "IBB").alias("ibb"),
            n(ev == "HBP").alias("hbp"),
            n(ev == "SF").alias("sf"),
            n(ev == "SH").alias("sh"),
        )
        .where(F.col("_pa") >= 1)
    )
    running = (
        parsed.where(ev.isin("SB", "CS") & F.col("r1_name").isNotNull())
        .groupBy("division", "year", F.col("r1_name").alias("batter_name"))
        .agg(n(ev == "SB").alias("sb"), n(ev == "CS").alias("cs"))
    )
    return counting.join(running, ["division", "year", "batter_name"], "left").select(
        F.col("batter_name").alias("player_id"),
        F.col("batter_name").alias("player_name"),
        "team_id",
        F.col("division").alias("conference"),
        "division", "year",
        (F.col("_pa") - F.col("bb") - F.col("hbp") - F.col("sf") - F.col("sh")).alias("ab"),
        "h", "double_", "triple_", "hr", "bb", "ibb", "hbp", "sf", "sh",
        F.coalesce("sb", F.lit(0)).alias("sb"),
        F.coalesce("cs", F.lit(0)).alias("cs"),
    )


def _batting_cube_ctes(src: str) -> str:
    """_batting_cube in SQL over the play source `src`, ending in `bcube`."""
    n = lambda cond: f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"  # noqa: E731
    return f"""bcount AS (
  SELECT division, year, batter_name,
         MIN('T_' || CAST(contest_id AS VARCHAR)
                  || (CASE WHEN half = 'Top' THEN '_away' ELSE '_home' END)) AS team_id,
         {n(f"event_type IN {_PA_IN}")} AS pa_n,
         {n("event_type IN ('1B', '2B', '3B', 'HR')")} AS h,
         {n("event_type = '2B'")} AS double_,
         {n("event_type = '3B'")} AS triple_,
         {n("event_type = 'HR'")} AS hr,
         {n("event_type IN ('BB', 'IBB')")} AS bb,
         {n("event_type = 'IBB'")} AS ibb,
         {n("event_type = 'HBP'")} AS hbp,
         {n("event_type = 'SF'")} AS sf,
         {n("event_type = 'SH'")} AS sh
  FROM {src}
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN event_type IN {_PA_IN} THEN 1 ELSE 0 END) >= 1
),
brun AS (
  SELECT division, year, r1_name AS batter_name,
         {n("event_type = 'SB'")} AS sb,
         {n("event_type = 'CS'")} AS cs
  FROM {src}
  WHERE event_type IN ('SB', 'CS') AND r1_name IS NOT NULL
  GROUP BY 1, 2, 3
),
bcube AS (
  SELECT c.batter_name AS player_id, c.team_id, c.division, c.year,
         c.pa_n - c.bb - c.hbp - c.sf - c.sh AS ab,
         c.h, c.double_, c.triple_, c.hr, c.bb, c.ibb, c.hbp, c.sf, c.sh,
         COALESCE(r.sb, 0) AS sb, COALESCE(r.cs, 0) AS cs
  FROM bcount c
  LEFT JOIN brun r
    ON c.division = r.division AND c.year = r.year AND c.batter_name = r.batter_name
)"""


def batting_war_of(parsed: DataFrame, guts: DataFrame) -> DataFrame:
    """pbp/war.batting_war over _batting_cube(parsed), with the cube's ab,
    sb and cs joined back."""
    from d3d_etl_spark.pbp.war import batting_war

    cube = barrier(_batting_cube(parsed))  # batting_war and the join-back read it
    return batting_war(cube, guts).join(
        cube.select("player_id", "division", "year", "ab", "sb", "cs"),
        ["player_id", "division", "year"],
    )


def _pitching_cube(parsed: DataFrame) -> DataFrame:
    """pbp/war.pitching_war's cube_pitching from plays, plus pa."""
    from d3d_etl_spark.functions.math import thirds_to_ip
    from d3d_etl_spark.queries.boards import _with_ids

    ev = F.col("event_type")
    n = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (
        _with_ids(parsed)
        .where(F.col("pitcher_name").isNotNull())
        .groupBy("division", "year", F.col("pitcher_name").alias("player_id"))
        .agg(
            F.min("pitch_team_id").alias("team_id"),
            F.sum("outs_on_play").alias("_thirds"),
            F.sum("runs_on_play").alias("er"),
            n(ev == "HR").alias("hr_a"),
            n(ev.isin("BB", "IBB")).alias("bb"),
            n(ev == "HBP").alias("hbp"),
            n(ev.isin(*_SO_EVENTS)).alias("so"),
            n(ev.isin("1B", "2B", "3B", "HR")).alias("h"),
            n(ev.isin(*_PA_EVENTS)).alias("pa"),
        )
        .withColumn("player_name", F.col("player_id"))
        .withColumn("conference", F.col("division"))
        .withColumn("ip", thirds_to_ip(F.col("_thirds")))
    )


_PIT_CTES = f"""
pwp AS (
  SELECT *,
         'P' || (CASE WHEN inning <= 2 THEN '0' ELSE '1' END)
             || '_' || (CASE WHEN half = 'Top' THEN 'home' ELSE 'away' END)
             || '_' || CAST(contest_id AS VARCHAR) AS pitcher_name,
         'T_' || CAST(contest_id AS VARCHAR)
              || (CASE WHEN half = 'Top' THEN '_home' ELSE '_away' END) AS pitch_team_id
  FROM read_parquet('{PARSED_PBP.glob}')
),
pcount AS (
  SELECT division, year, pitcher_name AS player_id,
         MIN(pitch_team_id) AS team_id,
         CAST(SUM(outs_on_play) AS BIGINT) AS thirds,
         CAST(SUM(runs_on_play) AS BIGINT) AS er,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr_a,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type IN {_SO_IN} THEN 1 ELSE 0 END) AS BIGINT) AS so,
         CAST(SUM(CASE WHEN event_type IN ('1B', '2B', '3B', 'HR') THEN 1 ELSE 0 END) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type IN {_PA_IN} THEN 1 ELSE 0 END) AS BIGINT) AS pa
  FROM pwp
  WHERE pitcher_name IS NOT NULL
  GROUP BY 1, 2, 3
),
pitwar AS (
  SELECT c.player_id, c.player_id AS player_name, c.team_id,
         c.division AS conference, c.division, c.year,
         c.thirds AS ip_thirds, c.pa,
         (CASE WHEN c.thirds != 0
               THEN 3.0 * CAST(13 * c.hr_a + 3 * (c.bb + c.hbp) - 2 * c.so AS DOUBLE)
                    / CAST(c.thirds AS DOUBLE) ELSE 0.0 END) + g.cfip AS fip,
         CASE WHEN c.thirds != 0
              THEN 27.0 * CAST(c.er AS DOUBLE) / CAST(c.thirds AS DOUBLE) ELSE 0.0 END AS era,
         CASE WHEN c.thirds != 0
              THEN 3.0 * CAST(c.bb + c.h AS DOUBLE) / CAST(c.thirds AS DOUBLE) ELSE 0.0 END AS whip,
         CASE WHEN c.thirds != 0
              THEN 27.0 * CAST(c.so AS DOUBLE) / CAST(c.thirds AS DOUBLE) ELSE 0.0 END AS k9,
         ({_LG_ERA} + 1.0
          - ((CASE WHEN c.thirds != 0
                   THEN 3.0 * CAST(13 * c.hr_a + 3 * (c.bb + c.hbp) - 2 * c.so AS DOUBLE)
                        / CAST(c.thirds AS DOUBLE) ELSE 0.0 END) + g.cfip))
           / 9.0 * (CAST(c.thirds AS DOUBLE) / 3.0) AS rar,
         g.runs_win
  FROM pcount c
  LEFT JOIN gutsrow g ON c.division = g.division AND c.year = g.year
),
pitwar2 AS (
  SELECT *, CASE WHEN runs_win != 0 THEN rar / runs_win ELSE 0.0 END AS war_raw
  FROM pitwar
)"""

# the whole chain in SQL, ending in `batwar` and `pitwar2`
_WAR_CTES = f"""{_run_value_ctes()},
{_batting_cube_ctes(_PARSED_SRC)},
{_batting_war_ctes("bcube")},
{_PIT_CTES}"""


def _war_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(guts, batting WAR, pitching WAR) of the materialized parse.
    Batting WAR carries the cube's ab/sb/cs, pitching WAR its pa."""
    from d3d_etl_spark.pbp.war import pitching_war

    parsed = materialized_parsed(spark, sf_dir)
    pcube = barrier(_pitching_cube(parsed))  # guts' cFIP, pitching_war and the pa join-back
    guts = barrier(run_value_guts(parsed, cube_pitching=pcube))  # both WAR sides read it
    pit = pitching_war(pcube, guts, lg_era=_LG_ERA).join(
        pcube.select("player_id", "division", "year", "pa"),
        ["player_id", "division", "year"],
    )
    return guts, batting_war_of(parsed, guts), pit


# ---------------------------------------------------------------------------
# domain_guts — the league-constants row (reference get_guts.py:120-184):
# guts_constants' GUTS_CONSTANTS columns, cFIP from the pitcher cube.
# ---------------------------------------------------------------------------

_GUTS_ORACLE = f"""
WITH {_run_value_ctes()}
SELECT * FROM gutsrow
"""


@register("domain_guts", _GUTS_ORACLE, tags=("domain",))
def domain_guts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = materialized_parsed(spark, sf_dir)
    return run_value_guts(parsed, cube_pitching=_pitching_cube(parsed))


# ---------------------------------------------------------------------------
# domain_war_team_sos — the full post-WAR chain at team grain: player WAR
# (both sides) -> SoS reward/punish (z-score of team SoS, clipped ±3,
# additive tilt, group-total-preserving rescale; reference
# sos_utils.py:38-109) -> team rollup (A7, common.py:39-48) -> division
# normalization to the standings target wins - 0.294*games with the 60/40
# batting/pitching split (sos_utils.py:112-138, get_war.py:186-188).
# Rankings and standings are md5-derived deterministic dims.
# ---------------------------------------------------------------------------


def _sos_chain_sql(src: str, frac: float, zero_wraa: bool) -> str:
    """SQL for: player WAR frame -> sos tilt -> team rollup -> normalize.
    Mirrors pbp/war.py sos_adjust + team_war + normalize_division_war
    expression-for-expression (1e9-scaled-long totals)."""
    wraa = "0.0 AS wraa, 0.0 AS bsr" if zero_wraa else "wraa, bsr"
    wraa_sum = (
        "0.0 AS wraa, 0.0 AS bsr"
        if zero_wraa
        else (
            "CAST(SUM(CAST(ROUND(wraa * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS wraa, "
            "CAST(SUM(CAST(ROUND(bsr * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS bsr"
        )
    )
    return f"""
{src}0 AS (
  SELECT s.*, COALESCE(r.sos_val, 0.0) AS sosv
  FROM {src} s
  LEFT JOIN rank r ON s.team_id = r.team_id AND s.division = r.division AND s.year = r.year
),
{src}1 AS (
  SELECT *,
         CAST(ROUND(sosv * 1000000) AS BIGINT) AS sos_i,
         SUM(CAST(ROUND(sosv * 1000000) AS BIGINT)) OVER (PARTITION BY division, year) AS s1,
         SUM(CAST(ROUND(sosv * 1000000) AS BIGINT) * CAST(ROUND(sosv * 1000000) AS BIGINT))
           OVER (PARTITION BY division, year) AS s2,
         COUNT(*) OVER (PARTITION BY division, year) AS n
  FROM {src}0
),
{src}2 AS (
  SELECT *,
         war_raw + 0.1 * (CASE WHEN n >= 2 THEN GREATEST(-3.0, LEAST(3.0,
           (CAST(sos_i AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
             / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))
         )) ELSE 0.0 END) AS war_tilted
  FROM {src}1
),
{src}3 AS (
  SELECT *,
         SUM(CAST(ROUND(war_raw * 1000000000) AS BIGINT)) OVER (PARTITION BY division, year) AS rawt,
         SUM(CAST(ROUND(war_tilted * 1000000000) AS BIGINT)) OVER (PARTITION BY division, year) AS tiltt
  FROM {src}2
),
{src}adj AS (
  SELECT *,
         CASE WHEN tiltt != 0
              THEN war_tilted * (CAST(rawt AS DOUBLE) / CAST(tiltt AS DOUBLE))
              ELSE war_raw END AS war
  FROM {src}3
),
{src}team AS (
  SELECT team_id, division, year,
         CAST(COUNT(*) AS BIGINT) AS n_players,
         CAST(SUM(pa) AS BIGINT) AS pa,
         {wraa_sum},
         CAST(SUM(CAST(ROUND(rar * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS rar,
         CAST(SUM(CAST(ROUND(war * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS war
  FROM {src}adj
  GROUP BY 1, 2, 3
),
{src}team2 AS (
  SELECT *,
         CAST(SUM(CAST(ROUND(war * 1000000000) AS BIGINT)) OVER (PARTITION BY division, year) AS DOUBLE)
           / 1e9 AS wartot
  FROM {src}team
),
{src}norm AS (
  SELECT b.team_id, b.division, b.year, b.n_players, b.pa, b.wraa, b.bsr, b.rar,
         -- CAST to DOUBLE before the decimal literals touch the BIGINTs:
         -- DuckDB evaluates DECIMAL * BIGINT exactly (0.294*2400 = 705.6),
         -- Spark in binary doubles (705.6000...01) — ULP drift that fails
         -- the value hash. Forcing DOUBLE mirrors Spark's IEEE tree.
         CASE WHEN s.w IS NOT NULL AND s.g IS NOT NULL AND ABS(b.wartot) > 1e-12
              THEN b.war * (((CAST(s.w AS DOUBLE) - 0.294 * CAST(s.g AS DOUBLE)) * {frac}) / b.wartot)
              ELSE b.war END AS war
  FROM {src}team2 b
  LEFT JOIN standtot s ON b.division = s.division AND b.year = s.year
)"""


_TEAM_SOS_ORACLE = f"""
WITH {_WAR_CTES},
bat AS (
  SELECT division, year, team_id, pa, wraa, bsr, rar, war_raw FROM batwar
),
pit AS (
  SELECT division, year, team_id, pa, rar, war_raw FROM pitwar2
),
allteams AS (
  SELECT DISTINCT team_id, division, year FROM (
    SELECT team_id, division, year FROM bat
    UNION ALL SELECT team_id, division, year FROM pit
  )
),
rank AS (
  SELECT team_id, division, year,
         CAST(('0x' || substr(md5(team_id), 1, 6))::BIGINT % 1000 AS DOUBLE) / 1000.0 - 0.5 AS sos_val
  FROM allteams
),
stand AS (
  SELECT team_id, division, year,
         ('0x' || substr(md5(team_id), 1, 4))::BIGINT % 21 + 10 AS wins,
         40 AS games
  FROM allteams
),
standtot AS (
  SELECT division, year, CAST(SUM(wins) AS BIGINT) AS w, CAST(SUM(games) AS BIGINT) AS g
  FROM stand GROUP BY 1, 2
),
{_sos_chain_sql("bat", 0.6, zero_wraa=False)},
{_sos_chain_sql("pit", 0.4, zero_wraa=True)}
SELECT 'batting' AS grain, division, year, team_id, n_players, pa, wraa, bsr, rar, war
FROM batnorm
UNION ALL
SELECT 'pitching' AS grain, division, year, team_id, n_players, pa, wraa, bsr, rar, war
FROM pitnorm
"""


@register("domain_war_team_sos", _TEAM_SOS_ORACLE, tags=("domain", "war"))
def domain_war_team_sos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL pbp.war chain: sos_adjust -> team_war ->
    normalize_division_war over both WAR sides, with md5-derived rankings
    (sos_val) and standings (wins, games)."""
    from d3d_etl_spark.pbp.war import normalize_division_war, sos_adjust, team_war

    _, bat, pit = _war_frames(spark, sf_dir)
    # player-grain frames feed allteams AND the sos chain — materialize once
    bat = barrier(bat)
    pit = barrier(
        pit.select("division", "year", "team_id", "pa", "rar", "war_raw")
        .withColumn("wraa", F.lit(0.0))
        .withColumn("bsr", F.lit(0.0))
    )
    allteams = (
        bat.select("team_id", "division", "year")
        .unionByName(pit.select("team_id", "division", "year"))
        .distinct()
    )
    h = lambda k: F.conv(F.substring(F.md5(F.col("team_id")), 1, k), 16, 10).cast("long")  # noqa: E731
    rankings = allteams.select(
        "team_id", "division", "year",
        ((h(6) % 1000).cast("double") / 1000.0 - 0.5).alias("sos_val"),
    )
    standings = allteams.select(
        "team_id", "division", "year",
        (h(4) % 21 + 10).alias("wins"),
        F.lit(40).alias("games"),
    )
    bat_adj = sos_adjust(bat, rankings)
    pit_adj = sos_adjust(pit, rankings)
    nb, np_ = normalize_division_war(
        team_war(bat_adj), team_war(pit_adj), standings, pitcher_share=0.40
    )
    cols = ["division", "year", "team_id", "n_players", "pa", "wraa", "bsr", "rar", "war"]
    return nb.select(F.lit("batting").alias("grain"), *cols).unionByName(
        np_.select(F.lit("pitching").alias("grain"), *cols)
    )


# ---------------------------------------------------------------------------
# domain_run_modes — the year-gated score-delta run-counting mode (reference
# pbp_parser/main.py:57-89: current-year feeds carry running scores, so runs
# are lagged score deltas clipped at 0 against scorer corrections) driven
# against a feed derived from the materialized plays, with a deterministic
# correction injected every 97th play so the clip path has real work.
# Published next to the narration-mode runs so the two modes' divergence is
# itself hash-checked.
# ---------------------------------------------------------------------------

_RUN_MODES_ORACLE = f"""
WITH feed AS (
  SELECT division, year, contest_id, play_id, half,
         runs_on_play AS runs_narration,
         CAST(away_score_after - (CASE WHEN play_id % 97 = 0 THEN 1 ELSE 0 END) AS VARCHAR) AS away_score,
         CAST(home_score_after - (CASE WHEN play_id % 97 = 0 THEN 1 ELSE 0 END) AS VARCHAR) AS home_score
  FROM read_parquet('{PARSED_PBP.glob}')
),
lagged AS (
  SELECT *,
         COALESCE(TRY_CAST(away_score AS INTEGER), 0) AS a_after,
         COALESCE(TRY_CAST(home_score AS INTEGER), 0) AS h_after
  FROM feed
),
w AS (
  SELECT *,
         COALESCE(LAG(a_after) OVER (PARTITION BY contest_id ORDER BY play_id), 0) AS a_before,
         COALESCE(LAG(h_after) OVER (PARTITION BY contest_id ORDER BY play_id), 0) AS h_before
  FROM lagged
)
SELECT division, year, contest_id, play_id, runs_narration,
       CAST(CASE WHEN half = 'Top' THEN GREATEST(a_after - a_before, 0)
                 ELSE GREATEST(h_after - h_before, 0) END AS INTEGER) AS runs_delta,
       a_before AS away_score_before, a_after AS away_score_after,
       h_before AS home_score_before, h_after AS home_score_after
FROM w
"""


@register("domain_run_modes", _RUN_MODES_ORACLE, tags=("domain",))
def domain_run_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.pbp.parser import add_source_score_runs

    parsed = materialized_parsed(spark, sf_dir)
    fix = F.when(F.col("play_id") % 97 == 0, 1).otherwise(0)
    feed = parsed.select(
        "division", "year", "contest_id", "play_id", "half",
        F.col("runs_on_play").alias("runs_narration"),
        (F.col("away_score_after") - fix).cast("string").alias("away_score"),
        (F.col("home_score_after") - fix).cast("string").alias("home_score"),
    )
    out = add_source_score_runs(feed)
    return out.select(
        "division", "year", "contest_id", "play_id", "runs_narration",
        F.col("runs_on_play").alias("runs_delta"),
        F.col("away_score_before").cast("int").alias("away_score_before"),
        F.col("away_score_after").cast("int").alias("away_score_after"),
        F.col("home_score_before").cast("int").alias("home_score_before"),
        F.col("home_score_after").cast("int").alias("home_score_after"),
    )


# ---------------------------------------------------------------------------
# domain_war_players — batting WAR + pitching WAR as one tagged union:
# batting arm = the full wOBA->wRAA->RAR->WAR
# chain (reference war_calculation/batting.py:363-418, calculator.py:
# 124-224); pitching arm = the FIP-based chain (pitching.py:10-87,
# calculator.py:226-319). Side-specific metric columns are NULL on the
# other arm; shared columns (pa, rar, war) align.
# ---------------------------------------------------------------------------

_WAR_PLAYERS_ORACLE = f"""
WITH {_WAR_CTES}
SELECT 'batting' AS grain, division, year, player_id AS player, team_id,
       pa, ab, sb, cs, woba, wraa,
       CAST(NULL AS BIGINT) AS ip_thirds, CAST(NULL AS DOUBLE) AS fip,
       CAST(NULL AS DOUBLE) AS era, CAST(NULL AS DOUBLE) AS whip,
       CAST(NULL AS DOUBLE) AS k9,
       rar, war_raw AS war
FROM batwar
UNION ALL
SELECT 'pitching', division, year, player_id, team_id,
       pa, NULL, NULL, NULL, NULL, NULL,
       ip_thirds, fip, era, whip, k9,
       rar, war_raw
FROM pitwar2
"""


@register("domain_war_players", _WAR_PLAYERS_ORACLE, tags=("domain", "war"))
def domain_war_players(spark: SparkSession, sf_dir: str) -> DataFrame:
    b_null = F.lit(None).cast("long")
    d_null = F.lit(None).cast("double")
    _, bat, pit = _war_frames(spark, sf_dir)
    bat = bat.select(
        F.lit("batting").alias("grain"), "division", "year",
        F.col("player_id").alias("player"), "team_id",
        F.col("pa").cast("long").alias("pa"),
        F.col("ab").cast("long").alias("ab"),
        F.col("sb").cast("long").alias("sb"),
        F.col("cs").cast("long").alias("cs"),
        "woba", "wraa",
        b_null.alias("ip_thirds"), d_null.alias("fip"), d_null.alias("era"),
        d_null.alias("whip"), d_null.alias("k9"),
        "rar",
        F.col("war_raw").alias("war"),
    )
    pit = pit.select(
        F.lit("pitching").alias("grain"), "division", "year",
        F.col("player_id").alias("player"), "team_id",
        F.col("pa").cast("long").alias("pa"),
        b_null.alias("ab"), b_null.alias("sb"), b_null.alias("cs"),
        d_null.alias("woba"), d_null.alias("wraa"),
        F.col("ip_thirds").cast("long").alias("ip_thirds"),
        "fip", "era", "whip", "k9",
        "rar",
        F.col("war_raw").alias("war"),
    )
    return bat.unionByName(pit)


# ---------------------------------------------------------------------------
# z_war_park — the last two links of reference calculator.py as a tagged
# union over the REAL operators:
#   grain='park': add_park_adjusted (pbp/war.py; reference
#     calculator.py:82 park-factor dict lookup, get_war.py:118,
#     batting.py:115-125 wRC+) over batting WAR and the guts runs_pa, with
#     an md5-derived park-factor dim (pf in 90..110; ~1/4 of teams absent
#     from the dim to exercise the neutral-100 coalesce).
#   grain='conf': add_conference_rates (pbp/war.py; reference
#     calculator.py:171-174 groupby(conference).transform('sum')) over
#     pitching WAR with an md5-derived 3-way conference split.
# ---------------------------------------------------------------------------

_PARK_ORACLE = f"""
WITH {_WAR_CTES},
pfdim AS (
  SELECT team_id,
         CAST(90 + {sql_md5_int("team_id")} % 21 AS DOUBLE) AS pf
  FROM (SELECT DISTINCT team_id FROM batwar)
  WHERE {sql_md5_int_seeded("team_id", 7)} % 4 != 0
),
parkbase AS (
  SELECT b.division, b.year, b.player_id AS player, b.team_id,
         COALESCE(p.pf, 100.0) AS pf,
         b.wraa + g.runs_pa * b.pa AS wrc,
         g.runs_pa, b.pa
  FROM batwar b
  LEFT JOIN pfdim p ON b.team_id = p.team_id
  LEFT JOIN gutsrow g ON b.division = g.division AND b.year = g.year
),
park AS (
  SELECT division, year, player, team_id, pf, wrc,
         100.0 * (CASE WHEN (runs_pa * pf / 100.0) != 0
                       THEN (CASE WHEN CAST(pa AS DOUBLE) != 0
                                  THEN wrc / CAST(pa AS DOUBLE) ELSE 0.0 END)
                            / (runs_pa * pf / 100.0)
                       ELSE 0.0 END) AS wrc_plus
  FROM parkbase
),
confp AS (
  SELECT division, year, player_id AS player, team_id,
         'c' || CAST({sql_md5_int("team_id")} % 3 AS VARCHAR) AS conference,
         pa, war_raw
  FROM pitwar2
),
conf AS (
  SELECT division, year, player, team_id, conference,
         SUM(pa) OVER w AS conf_pa,
         CASE WHEN SUM(pa) OVER w > 0
              THEN (CAST(SUM(CAST(ROUND(war_raw * 1000000000) AS BIGINT)) OVER w AS DOUBLE) / 1e9)
                   / (SUM(pa) OVER w) * 600.0
              ELSE 0.0 END AS conf_rate
  FROM confp
  WINDOW w AS (PARTITION BY division, year, conference)
)
SELECT 'park' AS grain, division, year, player, team_id, pf, wrc, wrc_plus,
       CAST(NULL AS VARCHAR) AS conference, CAST(NULL AS BIGINT) AS conf_pa,
       CAST(NULL AS DOUBLE) AS conf_rate
FROM park
UNION ALL
SELECT 'conf', division, year, player, team_id,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       conference, conf_pa, conf_rate
FROM conf
"""


@register("z_war_park", _PARK_ORACLE, tags=("domain", "war"))
def z_war_park(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import md5_int, md5_int_seeded
    from d3d_etl_spark.pbp.war import add_conference_rates, add_park_adjusted

    d_null = F.lit(None).cast("double")
    guts, bat, pit = _war_frames(spark, sf_dir)
    pf_dim = (
        bat.select("team_id").distinct()
        .where(F.pmod(md5_int_seeded(F.col("team_id"), 7), F.lit(4)) != 0)
        .select(
            "team_id",
            (F.lit(90) + F.pmod(md5_int(F.col("team_id")), F.lit(21)))
            .cast("double").alias("pf"),
        )
    )
    park = add_park_adjusted(bat, pf_dim, guts).select(
        F.lit("park").alias("grain"), "division", "year",
        F.col("player_id").alias("player"), "team_id",
        "pf", "wrc", "wrc_plus",
        F.lit(None).cast("string").alias("conference"),
        F.lit(None).cast("long").alias("conf_pa"),
        d_null.alias("conf_rate"),
    )

    pit = pit.withColumn(
        "conference",
        F.concat(F.lit("c"), F.pmod(md5_int(F.col("team_id")), F.lit(3)).cast("string")),
    )
    conf = add_conference_rates(pit).select(
        F.lit("conf").alias("grain"), "division", "year",
        F.col("player_id").alias("player"), "team_id",
        d_null.alias("pf"), d_null.alias("wrc"), d_null.alias("wrc_plus"),
        "conference",
        F.col("conf_pa").cast("long").alias("conf_pa"),
        F.col("conf_war_per_600pa").alias("conf_rate"),
    )
    return park.unionByName(conf)
