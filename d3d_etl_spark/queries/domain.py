"""Oracled domain analytics over the materialized FSM output.

The reference splits its pipeline into stages (processors/run_all.py
writes parsed_pbp between stages). Here the parsed-play table, everything
the FSM and the window layer produce, is materialized to parquet once per
scale, and every downstream aggregation (ER matrix, linear weights,
batting board, guts constants, WAR; reference get_er_matrix.py:17-24,
get_linear_weights.py:94-151, leaderboards/common.py:23-63,
get_guts.py:120-184, war_calculation/batting.py:363-418) is a registered
query whose DuckDB side reads the same parquet. The FSM output itself is
hash-checked against a recursive SQL recomputation from raw narration
(queries/pbp_fixture.py: z_pbp_corpus_fsm).

Run values have one implementation and one SQL mirror. Every ER, RE24,
linear-weight, wOBA-scale, guts and WAR number comes from pbp/metrics ->
pbp/guts -> pbp/war, the functions run_analytics runs (run_value_lw,
run_value_guts); every oracle of that chain is built from _er_re24_ctes,
_run_value_ctes and _batting_war_ctes. Published doubles are single
divisions of exact integer sums or fixed expression trees over them;
means of doubles aggregate as 1e-9-scaled longs (functions/money.py), so
the mirror is operation-for-operation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import STATE_ROOT as _CACHE_DIR  # noqa: F401 (perfbench reads it)
from d3d_etl_spark.io import StateFamily, barrier, read_parquet
from d3d_etl_spark.pbp.metrics import LW_CLASSES, REACHING
from d3d_etl_spark.queries.registry import register

_LG_OBP = 0.360


def _games_for(sf_dir: str) -> int:
    """Same scale rule as pbp_dag: game count tracks the scale factor."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.01
    return max(10, int(sf * 3000))


RAW_GAMES = StateFamily("raw_games", key=_games_for)
PARSED_PBP = StateFamily("parsed_pbp", key=_games_for)


def ensure_parsed(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the parsed-play parquet for `sf_dir`'s scale exists; return
    its path. The ensure-only form of materialized_parsed for callers that
    only need the cache on disk (e.g. for an oracle read) — after the
    first build this is a marker-file stat, no Spark scan is planned."""

    def build(tmp: str) -> None:
        from d3d_etl_spark.pbp.parser import parse_pbp

        parse_pbp(materialized_raw(spark, sf_dir)).write.mode("overwrite").parquet(tmp)

    return PARSED_PBP.ensure(sf_dir, build)


def materialized_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed plays for `sf_dir`'s scale, materialized once per scale.
    Both the Spark queries and their DuckDB oracles read THIS parquet, so
    the comparison is over identical FSM output by construction."""
    return read_parquet(spark, ensure_parsed(spark, sf_dir))


def materialized_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW narration for `sf_dir`'s scale, materialized once (seeded
    generator => identical every run). The end-to-end pipeline queries
    (z_pbp_dag / z_pbp_war) READ this parquet instead of re-generating in
    the measured path — mirroring the reference, whose pipeline stages read
    raw CSV from storage rather than synthesizing their input."""

    def build(tmp: str) -> None:
        from d3d_etl_spark.pbp.synth import generate_games_df

        generate_games_df(spark, _games_for(sf_dir)).write.mode("overwrite").parquet(tmp)

    # the raw table is tiny on disk, so the scan plans one partition; the
    # parse's head exchange (parser.game_partitioned) fans it back out to
    # session parallelism, so no repartition is needed here
    return read_parquet(spark, RAW_GAMES.ensure(sf_dir, build))


# ---------------------------------------------------------------------------
# domain_er_matrix — the RE24 expected-runs matrix in long form (A1;
# reference get_er_matrix.py:17-24). erv is ONE division of an exact
# integer sum — bit-identical on any engine.
# ---------------------------------------------------------------------------

_ER_ORACLE = f"""
SELECT division, year,
       bases_before AS bases,
       outs_before AS outs,
       COUNT(*) AS n,
       CAST(SUM(runs_roi) AS DOUBLE) / COUNT(*) AS erv
FROM read_parquet('{PARSED_PBP.glob}')
WHERE outs_before <= 2
GROUP BY 1, 2, 3, 4
"""


@register("domain_er_matrix", _ER_ORACLE, tags=("domain",))
def domain_er_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = materialized_parsed(spark, sf_dir)
    return (
        parsed.where(F.col("outs_before") <= 2)
        .groupBy(
            "division", "year",
            F.col("bases_before").alias("bases"),
            F.col("outs_before").alias("outs"),
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum("runs_roi").cast("double") / F.count("*")).alias("erv"),
        )
    )


# ---------------------------------------------------------------------------
# domain_batting_board — the player-grain counting board (A4; reference
# leaderboards/common.py:23-63). Pure integer conditional counts + one
# final division for the rate column.
# ---------------------------------------------------------------------------

# the oracle SQL literals are BUILT from the canonical event lists
# (pbp/events.py) at import time, so board and oracle can never drift
from d3d_etl_spark.pbp.events import PA_EVENTS as _PA_EVENTS_SRC
from d3d_etl_spark.pbp.events import SO_EVENTS as _SO_EVENTS_SRC

_PA_EVENTS = tuple(sorted(_PA_EVENTS_SRC))
_SO_EVENTS = tuple(sorted(_SO_EVENTS_SRC))
_HIT_EVENTS = ("1B", "2B", "3B", "HR")


def _sql_in(values) -> str:
    """The package's one SQL IN-list renderer: ('a', 'b', ...), sorted, so
    the text is the same for any iteration order of `values`."""
    return "(" + ", ".join(f"'{v}'" for v in sorted(values)) + ")"


_BAT_ORACLE = f"""
WITH b AS (
  SELECT division, year, batter_name,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS pa,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_HIT_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = '1B' THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN event_type = '2B' THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN event_type = '3B' THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_SO_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS so,
         CAST(SUM(runs_on_play) AS BIGINT) AS runs_driven
  FROM read_parquet('{PARSED_PBP.glob}')
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT *, CAST(h + bb + hbp AS DOUBLE) / pa AS ob_pct
FROM b
WHERE pa >= 1
"""


@register("domain_batting_board", _BAT_ORACLE, tags=("domain",))
def domain_batting_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.pbp.leaderboards import batting_board

    parsed = materialized_parsed(spark, sf_dir)
    return batting_board(parsed, min_pa=1).drop("re24_total")


# ---------------------------------------------------------------------------
# The run-value chain: production functions over a parsed play table, and
# their one SQL mirror over a play source.
# ---------------------------------------------------------------------------


def run_value_lw(parsed: DataFrame) -> DataFrame:
    """pbp/metrics' linear-weights table of a parsed play table:
    expected_runs_long -> add_re24 -> linear_weights."""
    from d3d_etl_spark.pbp.metrics import add_re24, expected_runs_long, linear_weights

    return linear_weights(add_re24(parsed, expected_runs_long(parsed)), _LG_OBP)


def run_value_guts(parsed: DataFrame, cube_pitching: DataFrame | None = None) -> DataFrame:
    """pbp/guts' league-constants row of a parsed play table over
    run_value_lw; `cube_pitching` as in guts_constants (cFIP from its
    totals, else the default)."""
    from d3d_etl_spark.pbp.guts import guts_constants

    lw = barrier(run_value_lw(parsed))  # the weights pivot, out weight and scale read it
    return guts_constants(parsed, lw, _LG_OBP, cube_pitching=cube_pitching)


def _lw_class_sql() -> str:
    whens = "\n    ".join(
        f"WHEN event_type = '{k}' THEN '{v}'" for k, v in LW_CLASSES.items()
    )
    return f"CASE {whens} END"


#: default oracle source for the play table — the materialized parse
_PARSED_SRC = f"read_parquet('{PARSED_PBP.glob}')"


def _er_re24_ctes(src: str = _PARSED_SRC) -> str:
    """Oracle CTEs `er` + `p` over the play source `src`: the ER matrix
    (expected_runs_long: one exact integer mean per (division, year,
    bases, outs) cell, bit-identical on any engine) and every play with
    re_before / re_after / re24 (add_re24: a play that ends the inning
    transitions to RE 0, not to a lookup key)."""
    re_after = "CASE WHEN pl.outs_after >= 3 THEN 0.0 ELSE COALESCE(ea.erv, 0.0) END"
    return f"""er AS (
  SELECT division, year, bases_before AS b, outs_before AS o,
         CAST(SUM(runs_roi) AS DOUBLE) / COUNT(*) AS erv
  FROM {src}
  WHERE outs_before <= 2
  GROUP BY 1, 2, 3, 4
),
p AS (
  SELECT pl.*, eb.erv AS re_before, {re_after} AS re_after,
         ({re_after}) - COALESCE(eb.erv, 0.0) + CAST(pl.runs_on_play AS DOUBLE) AS re24
  FROM {src} pl
  LEFT JOIN er eb ON eb.division = pl.division AND eb.year = pl.year
                 AND eb.b = pl.bases_before AND eb.o = pl.outs_before
  LEFT JOIN er ea ON ea.division = pl.division AND ea.year = pl.year
                 AND ea.b = pl.bases_after AND ea.o = pl.outs_after
)"""


def _run_value_ctes(src: str = _PARSED_SRC) -> str:
    """The SQL mirror of run_value_guts over the play source `src` (a
    table expression with the parsed-play columns): `er` + `p`
    (_er_re24_ctes), `lw` (linear_weights' published table), `scale` (its
    wOBA scale) and `gutsrow` (guts_constants' row). Means of re24 and the
    scale's weighted numerator sum 1e-9-scaled longs, as the engine does.
    `gutsrow.cfip` is cFIP from the league's play totals: the pitcher cubes
    partition the plays, so it equals guts_constants(cube_pitching=)."""
    from d3d_etl_spark.pbp.guts import _W_EVENTS

    reaching = _sql_in(REACHING)
    weights = ",\n         ".join(
        f"MAX(CASE WHEN events = '{ev}' THEN normalized_weight END) AS {w}"
        for w, ev in _W_EVENTS.items()
    )
    guts_weights = ",\n         ".join(f"COALESCE(w.{w}, 0.0) AS {w}" for w in _W_EVENTS)
    n = lambda cond: f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"  # noqa: E731
    return f"""{_er_re24_ctes(src)},
per_event AS (
  SELECT division, year, events,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(re24 * 1000000000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1e9 AS lwaa
  FROM (SELECT *, {_lw_class_sql()} AS events FROM p)
  WHERE events IS NOT NULL
  GROUP BY 1, 2, 3
),
out_lw AS (
  SELECT division, year, lwaa AS out_lwaa FROM per_event WHERE events = 'out'
),
lwao AS (
  SELECT pe.*, pe.lwaa - COALESCE(o.out_lwaa, 0.0) AS lwao
  FROM per_event pe
  LEFT JOIN out_lw o ON pe.division = o.division AND pe.year = o.year
),
scale AS (
  SELECT division, year,
         CASE WHEN SUM(CAST(ROUND(lwao * 1000000000) AS BIGINT) * n) != 0
              THEN {_LG_OBP} / (CAST(SUM(CAST(ROUND(lwao * 1000000000) AS BIGINT) * n) AS DOUBLE)
                            / SUM(n) / 1e9)
              ELSE NULL END AS woba_scale
  FROM lwao WHERE events IN {reaching}
  GROUP BY 1, 2
),
lw AS (
  SELECT l.division, l.year, l.events, l.n AS count,
         l.lwaa AS linear_weights_above_average,
         l.lwao AS linear_weights_above_outs,
         CASE WHEN l.events IN {reaching} THEN l.lwao * s.woba_scale
              ELSE 0.0 END AS normalized_weight
  FROM lwao l
  LEFT JOIN scale s ON l.division = s.division AND l.year = s.year
),
wts AS (
  SELECT division, year,
         {weights}
  FROM lw GROUP BY 1, 2
),
league AS (
  SELECT division, year,
         CAST(SUM(runs_on_play) AS BIGINT) AS lg_runs,
         CAST(SUM(outs_on_play) AS BIGINT) AS lg_outs,
         {n(f"event_type IN {_sql_in(_PA_EVENTS)}")} AS lg_pa,
         {n("event_type = 'SB'")} AS lg_sb,
         {n("event_type = 'CS'")} AS lg_cs,
         {n("event_type = 'HR'")} AS lg_hr,
         {n("event_type IN ('BB', 'IBB')")} AS lg_bb,
         {n("event_type = 'HBP'")} AS lg_hbp,
         {n(f"event_type IN {_sql_in(_SO_EVENTS)}")} AS lg_so
  FROM {src}
  GROUP BY 1, 2
),
gutsrow AS (
  SELECT g.division, g.year,
         {guts_weights},
         CAST({_LG_OBP} AS DOUBLE) AS woba,
         s.woba_scale,
         CAST(0.2 AS DOUBLE) AS runs_sb,
         -(2 * (-COALESCE(o.out_lwaa, -0.1)) + 0.075) AS runs_cs,
         CASE WHEN g.lg_sb + g.lg_cs != 0
              THEN CAST(g.lg_cs AS DOUBLE) / (g.lg_sb + g.lg_cs) ELSE 0.0 END AS cs_rate,
         CASE WHEN g.lg_pa != 0 THEN CAST(g.lg_runs AS DOUBLE) / g.lg_pa ELSE 0.0 END AS runs_pa,
         -COALESCE(o.out_lwaa, -0.1) AS runs_out,
         9.0 * (CASE WHEN g.lg_outs != 0
                     THEN CAST(g.lg_runs AS DOUBLE) * 3.0 / g.lg_outs
                     ELSE 0.0 END) * 1.5 + 3.0 AS runs_win,
         ROUND(
           (CASE WHEN g.lg_outs != 0
                 THEN 27.0 * CAST(g.lg_runs AS DOUBLE) / CAST(g.lg_outs AS DOUBLE) ELSE 0.0 END)
           - (CASE WHEN g.lg_outs != 0
                   THEN 3.0 * CAST(13 * g.lg_hr + 3 * (g.lg_bb + g.lg_hbp) - 2 * g.lg_so AS DOUBLE)
                        / CAST(g.lg_outs AS DOUBLE)
                   ELSE 0.0 END),
           3) AS cfip
  FROM league g
  LEFT JOIN wts w ON g.division = w.division AND g.year = w.year
  LEFT JOIN scale s ON g.division = s.division AND g.year = s.year
  LEFT JOIN out_lw o ON g.division = o.division AND g.year = o.year
)"""


def _batting_war_ctes(cube: str) -> str:
    """The SQL mirror of pbp/war.batting_war over the batting-cube CTE
    `cube` (player_id, team_id, division, year, ab, h, double_, triple_,
    hr, bb incl. IBB, ibb, hbp, sf, sh, sb, cs) and `gutsrow`, ending in
    `batwar`: the cube columns plus pa, woba, wraa, bsr, rar, war_raw.

    Dialect rule: a bare SQL literal like 0.2 is DECIMAL in DuckDB, so
    `sb * 0.2` would be computed as EXACT decimal and diverge from Spark's
    IEEE `long * double(0.2)` product by an ulp (e.g. sb=6: 1.2 vs
    1.2000000000000002) — every fractional literal that multiplies an
    integer column is CAST AS DOUBLE (here and in gutsrow's runs_sb)."""
    return f"""bw0 AS (
  SELECT cb.*,
         cb.ab + cb.bb + cb.hbp + cb.sf + cb.sh AS pa,
         CASE WHEN (cb.ab + cb.bb - cb.ibb + cb.sf + cb.hbp) != 0
              THEN (g.wbb * (cb.bb - cb.ibb) + g.whbp * cb.hbp
                    + g.w1b * (cb.h - cb.double_ - cb.triple_ - cb.hr)
                    + g.w2b * cb.double_ + g.w3b * cb.triple_ + g.whr * cb.hr)
                   / (cb.ab + cb.bb - cb.ibb + cb.sf + cb.hbp)
              ELSE 0.0 END AS woba,
         g.woba AS lg_woba, g.woba_scale, g.runs_sb, g.runs_cs, g.runs_win
  FROM {cube} cb
  LEFT JOIN gutsrow g ON cb.division = g.division AND cb.year = g.year
),
bw1 AS (
  SELECT *,
         (CASE WHEN woba_scale != 0 THEN (woba - lg_woba) / woba_scale
               ELSE 0.0 END) * pa AS wraa,
         sb * runs_sb + cs * runs_cs AS bsr
  FROM bw0
),
batwar AS (
  SELECT *,
         wraa + bsr + CAST(0.033 AS DOUBLE) * pa AS rar,
         CASE WHEN runs_win != 0
              THEN (wraa + bsr + CAST(0.033 AS DOUBLE) * pa) / runs_win
              ELSE 0.0 END AS war_raw
  FROM bw1
)"""


# ---------------------------------------------------------------------------
# domain_linear_weights — per-event-class mean run value + wOBA
# normalization (A10/A11; reference get_linear_weights.py:94-151): the
# production linear_weights table of the materialized parse.
# ---------------------------------------------------------------------------

_LW_ORACLE = f"""
WITH {_run_value_ctes()}
SELECT * FROM lw
"""


@register("domain_linear_weights", _LW_ORACLE, tags=("domain",))
def domain_linear_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_value_lw(materialized_parsed(spark, sf_dir))

# ---------------------------------------------------------------------------
# domain_rolling_form — the rolling-wOBA board shape (W10; reference
# leaderboards/rolling.py:19-43) at BOTH published grains (rolling +
# rolling_pitcher, leaderboards/main.py output_files): rolling on-base rate
# over the last n PAs per entity with pandas min-periods semantics, the
# value n PAs earlier, the trend delta, latest row per entity. Rates are
# single divisions of exact integer window sums. The pitcher grain rolls
# on-base rate ALLOWED over the last n batters faced (deterministic
# mid-game pitching-change identity shared with domain_pitching_board).
# ---------------------------------------------------------------------------

_ROLL_N = 10


def _roll_grain_sql(grain: str, entity: str, pa_in: str) -> str:
    return f"""
rolled_{grain} AS (
  SELECT *,
         ROW_NUMBER() OVER w_asc AS pa_seq,
         CASE WHEN COUNT(*) OVER frame_cur = {_ROLL_N}
              THEN CAST(SUM(ob) OVER frame_cur AS DOUBLE) / {_ROLL_N} END AS roll_ob,
         CASE WHEN COUNT(*) OVER frame_prev = {_ROLL_N}
              THEN CAST(SUM(ob) OVER frame_prev AS DOUBLE) / {_ROLL_N} END AS roll_ob_prev
  FROM (
    SELECT division, year, {entity} AS entity, contest_id, play_id,
           CASE WHEN event_type IN ('1B','2B','3B','HR','BB','IBB','HBP')
                THEN 1 ELSE 0 END AS ob
    FROM wp
    WHERE {entity} IS NOT NULL AND event_type IN {pa_in}
  )
  WINDOW
    w_asc AS (PARTITION BY division, year, entity ORDER BY contest_id, play_id),
    frame_cur AS (PARTITION BY division, year, entity ORDER BY contest_id, play_id
                  ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW),
    frame_prev AS (PARTITION BY division, year, entity ORDER BY contest_id, play_id
                   ROWS BETWEEN {2 * _ROLL_N - 1} PRECEDING AND {_ROLL_N} PRECEDING)
),
latest_{grain} AS (
  SELECT '{grain}' AS grain, division, year, entity,
         CAST(pa_seq AS BIGINT) AS total_pa,
         roll_ob, roll_ob_prev,
         roll_ob - roll_ob_prev AS trend,
         ROW_NUMBER() OVER (PARTITION BY division, year, entity
                            ORDER BY contest_id DESC, play_id DESC) AS rn
  FROM rolled_{grain}
)"""


def _roll_oracle() -> str:
    pa_in = _sql_in(_PA_EVENTS)
    grains = _roll_grain_sql("batter", "batter_name", pa_in) + "," + _roll_grain_sql(
        "pitcher", "pitcher_name", pa_in
    )
    return f"""
WITH wp AS (
  SELECT *,
         'P' || (CASE WHEN inning <= 2 THEN '0' ELSE '1' END)
             || '_' || (CASE WHEN half = 'Top' THEN 'home' ELSE 'away' END)
             || '_' || CAST(contest_id AS VARCHAR) AS pitcher_name
  FROM read_parquet('{PARSED_PBP.glob}')
),{grains}
SELECT grain, division, year, entity, total_pa, roll_ob, roll_ob_prev, trend
FROM latest_batter WHERE rn = 1
UNION ALL
SELECT grain, division, year, entity, total_pa, roll_ob, roll_ob_prev, trend
FROM latest_pitcher WHERE rn = 1
"""


@register("domain_rolling_form", _roll_oracle(), tags=("domain", "window"))
def domain_rolling_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.pbp.leaderboards import rolling_form_board

    parsed = materialized_parsed(spark, sf_dir)
    cid = F.col("contest_id").cast("string")
    wp = parsed.withColumn(
        "pitcher_name",
        F.concat(
            F.lit("P"),
            F.when(F.col("inning") <= 2, "0").otherwise("1"),
            F.lit("_"),
            F.when(F.col("half") == "Top", "home").otherwise("away"),
            F.lit("_"),
            cid,
        ),
    )
    parts = []
    for grain, entity in (("batter", "batter_name"), ("pitcher", "pitcher_name")):
        b = rolling_form_board(wp, n=_ROLL_N, entity_col=entity)
        parts.append(
            b.select(
                F.lit(grain).alias("grain"), "division", "year",
                F.col(entity).alias("entity"),
                F.col("total_pa").cast("long").alias("total_pa"),
                "roll_ob", "roll_ob_prev", "trend",
            )
        )
    return parts[0].unionByName(parts[1])
