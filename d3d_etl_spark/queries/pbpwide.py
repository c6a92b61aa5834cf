"""domain_pbp_metrics — the `pbp_with_metrics` flagship table
(pbp/metrics_full.py), hash-checked column-for-column against a DuckDB
oracle over the materialized FSM output.

The FSM-produced columns (bases, runners, events, outs, runs) are read
through from the shared parquet; every DERIVED column — flags, subs,
runner leads, batted-ball class, hash ids, RE24 chain, per-event wOBA
weight, times-through-order — is recomputed independently by the oracle;
the RE24 chain and the wOBA weights through the run-value mirror
(domain._run_value_ctes), the weights being the production linear_weights
table of the same parse (domain_linear_weights).
The registered query projects the 68 value-bearing columns of the
78-column contract: the other 10 (date, is_neutral_site, the six
win-probability columns, the two leverage flags) are identically NULL at
this scale (no date/venue/WE/LI inputs exist in the synthetic testdata)
and NULL-representation differences between engines would only test the
comparator, not the engine. The full 78-column schema and the WE/LI
arithmetic are pinned by tests/test_metrics_full.py's golden fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.pbp.state import _RUNNER_ONLY
from d3d_etl_spark.queries.domain import (
    _lw_class_sql,
    _run_value_ctes,
    _sql_in,
    materialized_parsed,
)
from d3d_etl_spark.queries.registry import register

_SUB_RE_SQL = r"^\s*(.*?)\s+to\s+([a-z0-9]+)\s+for\s+(.*?)\s*[.;]?\s*$"
_POI_RE_SQL = r"^\s*(.*?)\s+(?:stole|caught stealing|picked off|advanced|out at|scored)"


def _hash16(expr: str) -> str:
    return f"CASE WHEN {expr} IS NOT NULL THEN substr(sha256('d3d:' || {expr}), 1, 16) END"


_PBP_ORACLE = f"""
WITH {_run_value_ctes()},
base AS (
  SELECT p.*,
         split_part(p.play_text, ';', 1) AS _seg0,
         'P0_' || (CASE WHEN p.half = 'Top' THEN 'home' ELSE 'away' END)
               || '_' || CAST(p.contest_id AS VARCHAR) AS pitcher_name,
         'T_' || CAST(p.contest_id AS VARCHAR) || '_home' AS home_team_id,
         'T_' || CAST(p.contest_id AS VARCHAR) || '_away' AS away_team_id
  FROM p
),
derived AS (
  SELECT b.*,
         regexp_extract(b._seg0, '{_SUB_RE_SQL}', 1) AS _sub_in,
         lower(regexp_extract(b._seg0, '{_SUB_RE_SQL}', 2)) AS _sub_pos,
         regexp_extract(b._seg0, '{_SUB_RE_SQL}', 3) AS _sub_out,
         regexp_extract(b._seg0, '{_POI_RE_SQL}', 1) AS _poi_runner,
         ROW_NUMBER() OVER (PARTITION BY b.contest_id ORDER BY b.play_id) = 1 AS new_game_fl,
         ROW_NUMBER() OVER (PARTITION BY b.contest_id ORDER BY b.play_id DESC) = 1 AS game_end_fl,
         ROW_NUMBER() OVER (PARTITION BY b.contest_id, b.inning, b.half ORDER BY b.play_id) = 1 AS new_inn_fl,
         ROW_NUMBER() OVER (PARTITION BY b.contest_id, b.inning, b.half ORDER BY b.play_id DESC) = 1 AS inn_end_fl,
         LEAD(b.r1_name) OVER (PARTITION BY b.contest_id, b.inning, b.half ORDER BY b.play_id) AS r1_after,
         LEAD(b.r2_name) OVER (PARTITION BY b.contest_id, b.inning, b.half ORDER BY b.play_id) AS r2_after,
         LEAD(b.r3_name) OVER (PARTITION BY b.contest_id, b.inning, b.half ORDER BY b.play_id) AS r3_after,
         {_lw_class_sql()} AS _ev_class
  FROM base b
),
named AS (
  SELECT d.*,
         CASE WHEN d.event_type IN {_sql_in(_RUNNER_ONLY)} AND d._poi_runner != ''
              THEN d._poi_runner ELSE d.batter_name END AS player_name,
         CASE WHEN d._sub_in != '' THEN 1 ELSE 0 END AS sub_fl
  FROM derived d
)
SELECT
  CAST(n.year AS INTEGER) AS year,
  n.contest_id,
  CAST(n.inning AS INTEGER) AS inning,
  CAST(n.away_score_after AS INTEGER) AS away_score,
  CAST(n.home_score_after AS INTEGER) AS home_score,
  n.division,
  n.home_team_id,
  n.away_team_id,
  n.half,
  n.play_text AS play_description,
  n.play_id,
  n.away_team_id AS away_team_name,
  n.home_team_id AS home_team_name,
  CASE WHEN n.half = 'Top' THEN n.away_team_id ELSE n.home_team_id END AS bat_team_id,
  CASE WHEN n.half = 'Top' THEN n.home_team_id ELSE n.away_team_id END AS pitch_team_id,
  CASE WHEN n.half = 'Top' THEN n.away_team_id ELSE n.home_team_id END AS bat_team_name,
  CASE WHEN n.half = 'Top' THEN n.home_team_id ELSE n.away_team_id END AS pitch_team_name,
  n.game_end_fl, n.inn_end_fl, n.new_game_fl, n.new_inn_fl,
  CAST(n.sub_fl AS INTEGER) AS sub_fl,
  CASE WHEN n.sub_fl = 1 THEN n._sub_in END AS sub_in,
  CASE WHEN n.sub_fl = 1 THEN n._sub_out END AS sub_out,
  CASE WHEN n.sub_fl = 1 THEN n._sub_pos END AS sub_pos,
  CAST(CASE WHEN n.event_type = 'IBB' THEN 1 ELSE 0 END AS INTEGER) AS int_bb_fl,
  CAST(CASE WHEN n.event_type = 'SH' THEN 1 ELSE 0 END AS INTEGER) AS sh_fl,
  CAST(CASE WHEN n.event_type = 'SF' THEN 1 ELSE 0 END AS INTEGER) AS sf_fl,
  CAST(CASE WHEN n.half = 'Top' THEN 1 ELSE 0 END AS INTEGER) AS top_inning_fl,
  CAST(CASE WHEN n.sub_fl = 1 AND n._sub_pos = 'p' THEN 1 ELSE 0 END AS INTEGER) AS pitcher_sub_fl,
  CAST(n.outs_on_play AS INTEGER) AS outs_on_play,
  CAST(n.outs_before AS INTEGER) AS outs_before,
  CAST(n.outs_after AS INTEGER) AS outs_after,
  CAST(n.runs_on_play AS INTEGER) AS runs_on_play,
  CAST(n.away_score_before AS INTEGER) AS away_score_before,
  CAST(n.home_score_before AS INTEGER) AS home_score_before,
  CAST(n.home_score_after AS INTEGER) AS home_score_after,
  CAST(n.away_score_after AS INTEGER) AS away_score_after,
  CAST(n.runs_this_inn AS INTEGER) AS runs_this_inn,
  CAST(n.runs_roi AS INTEGER) AS runs_roi,
  n.batter_name, n.r1_name, n.r2_name, n.r3_name,
  n.bases_before, n.r1_after, n.r2_after, n.r3_after, n.bases_after,
  CAST(n.bat_order AS INTEGER) AS bat_order,
  n.event_type,
  CASE WHEN lower(n.play_text) LIKE '%bunt%' THEN 'bunt'
       WHEN lower(n.play_text) LIKE '%grounded%' THEN 'ground_ball'
       WHEN lower(n.play_text) LIKE '%lined%' THEN 'line_drive'
       WHEN lower(n.play_text) LIKE '%popped%' THEN 'pop_up'
       WHEN lower(n.play_text) LIKE '%flied%' OR lower(n.play_text) LIKE '%homered%'
            OR n.event_type = 'SF' THEN 'fly_ball'
  END AS batted_ball_type,
  n.pitcher_name,
  {_hash16("n.pitcher_name")} AS pitcher_id,
  {_hash16("n.batter_name")} AS batter_id,
  {_hash16("n.r1_name")} AS r1_id,
  {_hash16("n.r2_name")} AS r2_id,
  {_hash16("n.r3_name")} AS r3_id,
  n.player_name,
  {_hash16("n.player_name")} AS player_id,
  w.normalized_weight AS woba,
  n.re_before,
  n.re_after,
  n.re_after - COALESCE(n.re_before, 0.0) AS re_delta,
  n.re24 AS rea,
  CAST(n.home_score_before - n.away_score_before AS INTEGER) AS score_diff_before,
  CAST(n.home_score_after - n.away_score_after AS INTEGER) AS score_diff_after,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY n.contest_id, n.pitcher_name, n.batter_name, n.bat_order
    ORDER BY n.play_id) AS INTEGER) AS times_through_order
FROM named n
LEFT JOIN lw w ON n.division = w.division AND n.year = w.year
              AND n._ev_class = w.events
"""


@register("domain_pbp_metrics", _PBP_ORACLE, tags=("domain",))
def domain_pbp_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.pbp.metrics import expected_runs_long
    from d3d_etl_spark.pbp.metrics_full import pbp_with_metrics
    from d3d_etl_spark.queries.domain import domain_linear_weights

    parsed = materialized_parsed(spark, sf_dir)
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
    lw = domain_linear_weights(spark, sf_dir)  # register() returns fn unwrapped
    full = pbp_with_metrics(
        parsed,
        expected_runs_long(parsed),
        pitching_lineups=lineups,
        lw=lw,
    )
    # the 68 value-bearing columns (see module docstring)
    null_here = {
        "date", "is_neutral_site", "home_win_exp_before", "li",
        "home_win_exp_after", "delta_home_win_exp", "wpa", "wpa_li",
        "high_leverage_fl", "low_leverage_fl",
    }
    return full.select(*[c for c in full.columns if c not in null_here])
