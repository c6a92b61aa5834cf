"""Oracled domain analytics over the materialized FSM output.

`z_pbp_dag`/`z_pbp_war` run the full narration pipeline end-to-end; both
are fully oracled (queries/stateful.py — the last raw-double
sums now aggregate as 1e-9-scaled longs, and the crc32 team ids are
recomputed from first principles in recursive SQL). This module keeps the
stage-by-stage verification that predates those oracles, the way the
reference splits its own
stages (processors/run_all.py writes parsed_pbp between stages): the
parsed-play table — everything the FSM and the window layer produce — is
materialized to parquet ONCE per scale, and every downstream aggregation
(ER matrix, linear weights, batting board, guts constants, WAR arithmetic;
reference get_er_matrix.py:17-24, get_linear_weights.py:94-151,
leaderboards/common.py:23-63, get_guts.py:120-184,
war_calculation/batting.py:363-418) is registered as a normal oracled
query whose DuckDB side reads the SAME parquet. The FSM itself stays
pytest-proven (hand-traced games + invariants); everything after it gets
the full hash-match gate.

Determinism contract: every published double is either a single division
of exact integer sums or an expression tree over 1e-6-quantized ("micro")
integer aggregates, mirrored operation-for-operation in the oracle SQL —
no raw-double accumulation anywhere (functions/money.py doctrine).
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


def _sql_in(events: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{e}'" for e in events) + ")"


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
# domain_linear_weights — per-event-class mean run value + wOBA
# normalization (A10/A11; reference get_linear_weights.py:94-151), with the
# RE24 chain quantized to exact micro-runs (1e-6) so every aggregate is an
# integer sum. The publishable doubles are derived from those integers by
# identical expression trees on both engines.
# ---------------------------------------------------------------------------

def _lw_class_sql() -> str:
    whens = "\n    ".join(
        f"WHEN event_type = '{k}' THEN '{v}'" for k, v in LW_CLASSES.items()
    )
    return f"CASE {whens} END"


#: default oracle source for the play table — the materialized parse
_PARSED_SRC = f"read_parquet('{PARSED_PBP.glob}')"


def _lw_ctes(src: str = _PARSED_SRC) -> str:
    """Quantized linear-weights CTE chain over the play source `src` —
    parametrized so the fixture-scale WAR twin
    (queries/pbp_fixture.py: z_pbp_fixture_war) can run the identical
    chain over the rule-table-generated fixture plays CTE."""
    return f"""
er AS (
  SELECT division, year, bases_before AS bases, outs_before AS outs,
         CAST(ROUND(1000000 * (CAST(SUM(runs_roi) AS DOUBLE) / COUNT(*))) AS BIGINT) AS erv_u
  FROM {src}
  WHERE outs_before <= 2
  GROUP BY 1, 2, 3, 4
),
plays_u AS (
  SELECT p.division, p.year,
         {_lw_class_sql()} AS events,
         (CASE WHEN p.outs_after >= 3 THEN 0 ELSE COALESCE(a.erv_u, 0) END)
           - COALESCE(b.erv_u, 0)
           + CAST(p.runs_on_play AS BIGINT) * 1000000 AS re24_u
  FROM {src} p
  LEFT JOIN er b ON p.division = b.division AND p.year = b.year
                AND p.bases_before = b.bases AND p.outs_before = b.outs
  LEFT JOIN er a ON p.division = a.division AND p.year = a.year
                AND p.bases_after = a.bases AND p.outs_after = a.outs
),
per_event AS (
  SELECT division, year, events,
         COUNT(*) AS n,
         CAST(SUM(re24_u) AS BIGINT) AS tot_u
  FROM plays_u
  WHERE events IS NOT NULL
  GROUP BY 1, 2, 3
),
with_out AS (
  SELECT e.*,
         CAST(e.tot_u AS DOUBLE) / e.n / 1000000.0 AS lw_above_avg,
         CAST(e.tot_u AS DOUBLE) / e.n / 1000000.0
           - COALESCE(CAST(o.tot_u AS DOUBLE) / o.n / 1000000.0, 0.0) AS lw_above_outs
  FROM per_event e
  LEFT JOIN (SELECT * FROM per_event WHERE events = 'out') o
    ON e.division = o.division AND e.year = o.year
),
quant AS (
  SELECT *, CAST(ROUND(1000000 * lw_above_outs) AS BIGINT) AS lwao_u
  FROM with_out
),
scale AS (
  SELECT division, year,
         CASE WHEN SUM(lwao_u * n) != 0
              THEN {_LG_OBP} / (CAST(SUM(lwao_u * n) AS DOUBLE) / SUM(n) / 1000000.0)
              ELSE NULL END AS woba_scale
  FROM quant
  WHERE events IN {_sql_in(REACHING)}
  GROUP BY 1, 2
)
"""


_LW_CTES = _lw_ctes()

_LW_ORACLE = f"""
WITH {_LW_CTES}
SELECT q.division, q.year, q.events, q.n, q.tot_u,
       q.lw_above_avg, q.lw_above_outs,
       CASE WHEN q.events IN {_sql_in(REACHING)}
            THEN q.lw_above_outs * s.woba_scale ELSE 0.0 END AS normalized_weight
FROM quant q
LEFT JOIN scale s ON q.division = s.division AND q.year = s.year
"""


def _er_micro(parsed: DataFrame) -> DataFrame:
    """(division, year, bases, outs) -> micro-run ERV as exact long."""
    return (
        parsed.where(F.col("outs_before") <= 2)
        .groupBy(
            "division", "year",
            F.col("bases_before").alias("bases"),
            F.col("outs_before").alias("outs"),
        )
        .agg(
            F.round(1000000 * (F.sum("runs_roi").cast("double") / F.count("*")))
            .cast("long")
            .alias("erv_u")
        )
    )


def _re24_micro(parsed: DataFrame) -> DataFrame:
    """Plays + micro-run re24_u via the end-of-inning key rewrite (J7)."""
    er = _er_micro(parsed)
    before = er.select(
        "division", "year",
        F.col("bases").alias("bases_before"), F.col("outs").alias("outs_before"),
        F.col("erv_u").alias("_b_u"),
    )
    after = er.select(
        "division", "year",
        F.col("bases").alias("bases_after"), F.col("outs").alias("outs_after"),
        F.col("erv_u").alias("_a_u"),
    )
    return (
        parsed.join(F.broadcast(before), ["division", "year", "bases_before", "outs_before"], "left")
        .join(F.broadcast(after), ["division", "year", "bases_after", "outs_after"], "left")
        .withColumn(
            "re24_u",
            F.when(F.col("outs_after") >= 3, F.lit(0)).otherwise(
                F.coalesce("_a_u", F.lit(0))
            )
            - F.coalesce("_b_u", F.lit(0))
            + F.col("runs_on_play").cast("long") * 1000000,
        )
        .drop("_b_u", "_a_u")
    )


def _lw_quant(parsed: DataFrame) -> DataFrame:
    """Quantized linear-weights table (division, year, events, n, tot_u,
    lw_above_avg, lw_above_outs, lwao_u)."""
    classed = _re24_micro(parsed).withColumn(
        "events",
        F.coalesce(*[F.when(F.col("event_type") == k, v) for k, v in LW_CLASSES.items()]),
    ).where(F.col("events").isNotNull())
    per_event = classed.groupBy("division", "year", "events").agg(
        F.count("*").alias("n"), F.sum("re24_u").alias("tot_u")
    )
    out_w = per_event.where(F.col("events") == "out").select(
        "division", "year",
        F.col("tot_u").alias("_o_tot"), F.col("n").alias("_o_n"),
    )
    lw_avg = F.col("tot_u").cast("double") / F.col("n") / 1000000.0
    lw_outs = lw_avg - F.coalesce(
        F.col("_o_tot").cast("double") / F.col("_o_n") / 1000000.0, F.lit(0.0)
    )
    return (
        per_event.join(F.broadcast(out_w), ["division", "year"], "left")
        .withColumn("lw_above_avg", lw_avg)
        .withColumn("lw_above_outs", lw_outs)
        .withColumn("lwao_u", F.round(1000000 * F.col("lw_above_outs")).cast("long"))
        .drop("_o_tot", "_o_n")
    )


@register("domain_linear_weights", _LW_ORACLE, tags=("domain",))
def domain_linear_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = materialized_parsed(spark, sf_dir)
    lw = barrier(_lw_quant(parsed))  # reused by scale + output
    scale = (
        lw.where(F.col("events").isin(*REACHING))
        .groupBy("division", "year")
        .agg(
            F.when(
                F.sum(F.col("lwao_u") * F.col("n")) != 0,
                F.lit(_LG_OBP)
                / (
                    F.sum(F.col("lwao_u") * F.col("n")).cast("double")
                    / F.sum("n")
                    / 1000000.0
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("woba_scale")
        )
    )
    return (
        lw.join(F.broadcast(scale), ["division", "year"], "left")
        .select(
            "division", "year", "events", "n", "tot_u",
            "lw_above_avg", "lw_above_outs",
            F.when(
                F.col("events").isin(*REACHING),
                F.col("lw_above_outs") * F.col("woba_scale"),
            ).otherwise(F.lit(0.0)).alias("normalized_weight"),
        )
    )


# ---------------------------------------------------------------------------
# domain_guts — the league-constants row (reference get_guts.py:120-184):
# counting aggregates + run-environment constants. runs_out comes from the
# quantized out linear weight; every double is a fixed expression tree over
# exact integers.
# ---------------------------------------------------------------------------

_GUTS_ORACLE = f"""
WITH {_LW_CTES},
league AS (
  SELECT division, year,
         CAST(SUM(runs_on_play) AS BIGINT) AS lg_runs,
         CAST(SUM(outs_on_play) AS BIGINT) AS lg_outs,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS lg_pa,
         CAST(SUM(CASE WHEN event_type = 'SB' THEN 1 ELSE 0 END) AS BIGINT) AS lg_sb,
         CAST(SUM(CASE WHEN event_type = 'CS' THEN 1 ELSE 0 END) AS BIGINT) AS lg_cs
  FROM read_parquet('{PARSED_PBP.glob}')
  GROUP BY 1, 2
),
out_lw AS (
  SELECT division, year,
         CAST(tot_u AS DOUBLE) / n / 1000000.0 AS lw_out
  FROM per_event WHERE events = 'out'
)
SELECT l.division, l.year, l.lg_runs, l.lg_outs, l.lg_pa, l.lg_sb, l.lg_cs,
       CAST(l.lg_runs AS DOUBLE) / l.lg_pa AS runs_pa,
       -COALESCE(o.lw_out, -0.1) AS runs_out,
       -(2 * (-COALESCE(o.lw_out, -0.1)) + 0.075) AS runs_cs,
       CASE WHEN l.lg_sb + l.lg_cs > 0
            THEN CAST(l.lg_cs AS DOUBLE) / (l.lg_sb + l.lg_cs) ELSE 0.0 END AS cs_rate,
       9.0 * (CAST(l.lg_runs AS DOUBLE) * 3.0 / l.lg_outs) * 1.5 + 3.0 AS runs_win
FROM league l
LEFT JOIN out_lw o ON l.division = o.division AND l.year = o.year
"""


# full batting-WAR chain as CTEs ending in `batwar` — shared by
# domain_war_batting, the team/SoS chain (queries/war_chain.py), and (as
# the parametrized form) the fixture-scale WAR twin (z_pbp_fixture_war)
def _war_ctes_chain(src: str = _PARSED_SRC) -> str:
    return f"""{_lw_ctes(src)},
normw AS (
  SELECT q.division, q.year, q.events, q.lw_above_outs * s.woba_scale AS w
  FROM quant q
  JOIN scale s ON q.division = s.division AND q.year = s.year
  WHERE q.events IN {_sql_in(REACHING)}
),
wts AS (
  SELECT division, year,
         MAX(CASE WHEN events = 'walk' THEN w END) AS wbb,
         MAX(CASE WHEN events = 'hit_by_pitch' THEN w END) AS whbp,
         MAX(CASE WHEN events = 'single' THEN w END) AS w1b,
         MAX(CASE WHEN events = 'double' THEN w END) AS w2b,
         MAX(CASE WHEN events = 'triple' THEN w END) AS w3b,
         MAX(CASE WHEN events = 'home_run' THEN w END) AS whr
  FROM normw GROUP BY 1, 2
),
league AS (
  SELECT division, year,
         CAST(SUM(runs_on_play) AS BIGINT) AS lg_runs,
         CAST(SUM(outs_on_play) AS BIGINT) AS lg_outs
  FROM {src}
  GROUP BY 1, 2
),
consts AS (
  SELECT l.division, l.year,
         9.0 * (CAST(l.lg_runs AS DOUBLE) * 3.0 / l.lg_outs) * 1.5 + 3.0 AS runs_win,
         -(2 * (-COALESCE(o.lw_out, -0.1)) + 0.075) AS runs_cs
  FROM league l
  LEFT JOIN (
    SELECT division, year, CAST(tot_u AS DOUBLE) / n / 1000000.0 AS lw_out
    FROM per_event WHERE events = 'out'
  ) o ON l.division = o.division AND l.year = o.year
),
counting AS (
  SELECT division, year, batter_name,
         MIN('T_' || CAST(contest_id AS VARCHAR)
                  || (CASE WHEN half = 'Top' THEN '_away' ELSE '_home' END)) AS team_id,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS pa,
         CAST(SUM(CASE WHEN event_type = '1B' THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN event_type = '2B' THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN event_type = '3B' THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb_all,
         CAST(SUM(CASE WHEN event_type = 'IBB' THEN 1 ELSE 0 END) AS BIGINT) AS ibb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type = 'SF' THEN 1 ELSE 0 END) AS BIGINT) AS sf,
         CAST(SUM(CASE WHEN event_type = 'SH' THEN 1 ELSE 0 END) AS BIGINT) AS sh
  FROM {src}
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN event_type IN {_sql_in(_PA_EVENTS)} THEN 1 ELSE 0 END) >= 1
),
running AS (
  SELECT division, year, r1_name AS batter_name,
         CAST(SUM(CASE WHEN event_type = 'SB' THEN 1 ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN event_type = 'CS' THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM {src}
  WHERE event_type IN ('SB', 'CS') AND r1_name IS NOT NULL
  GROUP BY 1, 2, 3
),
derived AS (
  SELECT c.division, c.year, c.batter_name, c.team_id, c.pa,
         c.pa - c.bb_all - c.hbp - c.sf - c.sh AS ab,
         COALESCE(r.sb, 0) AS sb, COALESCE(r.cs, 0) AS cs,
         w.wbb * (c.bb_all - c.ibb) + w.whbp * c.hbp + w.w1b * c.b1
           + w.w2b * c.b2 + w.w3b * c.b3 + w.whr * c.hr AS woba_num,
         (c.pa - c.bb_all - c.hbp - c.sf - c.sh) + c.bb_all - c.ibb + c.sf + c.hbp AS woba_den,
         s.woba_scale, k.runs_win, k.runs_cs
  FROM counting c
  JOIN wts w ON c.division = w.division AND c.year = w.year
  JOIN scale s ON c.division = s.division AND c.year = s.year
  JOIN consts k ON c.division = k.division AND c.year = k.year
  LEFT JOIN running r
    ON c.division = r.division AND c.year = r.year AND c.batter_name = r.batter_name
),
war AS (
  SELECT division, year, batter_name, team_id, pa, ab, sb, cs,
         CASE WHEN woba_den != 0 THEN woba_num / woba_den ELSE 0.0 END AS woba,
         CASE WHEN woba_scale != 0
              THEN ((CASE WHEN woba_den != 0 THEN woba_num / woba_den ELSE 0.0 END) - {_LG_OBP}) / woba_scale
              ELSE 0.0 END * CAST(pa AS DOUBLE) AS wraa,
         CAST(sb AS DOUBLE) * 0.2 + CAST(cs AS DOUBLE) * runs_cs AS sb_runs,
         runs_win
  FROM derived
),
batwar AS (
  SELECT division, year, batter_name, team_id, pa, ab, sb, cs, woba, wraa,
         sb_runs AS bsr,
         wraa + sb_runs + 0.033 * CAST(pa AS DOUBLE) AS rar,
         CASE WHEN runs_win != 0
              THEN (wraa + sb_runs + 0.033 * CAST(pa AS DOUBLE)) / runs_win ELSE 0.0 END AS war
  FROM war
)"""


_WAR_CTES_CHAIN = _war_ctes_chain()


def _war_batting_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batting-WAR arithmetic end-to-end over the materialized plays —
    see war_batting_from_parsed (the chain, shared so the
    fixture-scale twin z_pbp_fixture_war can run it over the fixture
    parse instead of the materialized corpus)."""
    return war_batting_from_parsed(materialized_parsed(spark, sf_dir))


def war_batting_from_parsed(parsed: DataFrame) -> DataFrame:
    """Batting-WAR arithmetic end-to-end over a parsed play table:
    counting stats -> quantized wOBA weights -> wRAA -> SB runs -> RAR ->
    WAR (reference war_calculation/batting.py:363-418, calculator.py:124-224).
    Every double is a fixed expression tree over exact integer aggregates —
    the oracle recomputes the identical chain in SQL (_war_ctes_chain).
    Returns the full chain incl. team_id and bsr for the team/SoS layer."""
    from d3d_etl_spark.functions import saber
    from d3d_etl_spark.functions.math import safe_div

    ev = F.col("event_type")
    bat_team = F.concat(
        F.lit("T_"),
        F.col("contest_id").cast("string"),
        F.when(F.col("half") == "Top", "_away").otherwise("_home"),
    )
    n = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    counting = (
        parsed.where(F.col("batter_name").isNotNull())
        .groupBy("division", "year", "batter_name")
        .agg(
            F.min(bat_team).alias("team_id"),
            n(ev.isin(*_PA_EVENTS)).alias("pa"),
            n(ev == "1B").alias("b1"),
            n(ev == "2B").alias("b2"),
            n(ev == "3B").alias("b3"),
            n(ev == "HR").alias("hr"),
            n(ev.isin("BB", "IBB")).alias("bb_all"),
            n(ev == "IBB").alias("ibb"),
            n(ev == "HBP").alias("hbp"),
            n(ev == "SF").alias("sf"),
            n(ev == "SH").alias("sh"),
        )
        .where(F.col("pa") >= 1)
    )
    running = (
        parsed.where(ev.isin("SB", "CS") & F.col("r1_name").isNotNull())
        .groupBy("division", "year", F.col("r1_name").alias("batter_name"))
        .agg(n(ev == "SB").alias("sb"), n(ev == "CS").alias("cs"))
    )
    # lw is consumed by scale/wts/out_lw below; each re-derivation re-runs
    # the ER-matrix + re24 join over the full play scan. The table is tiny
    # (events x division x year): materialize once.
    lw = barrier(_lw_quant(parsed))
    scale = (
        lw.where(F.col("events").isin(*REACHING))
        .groupBy("division", "year")
        .agg(
            F.when(
                F.sum(F.col("lwao_u") * F.col("n")) != 0,
                F.lit(_LG_OBP)
                / (
                    F.sum(F.col("lwao_u") * F.col("n")).cast("double")
                    / F.sum("n")
                    / 1000000.0
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("woba_scale")
        )
    )
    wts = (
        lw.join(F.broadcast(scale), ["division", "year"])
        .where(F.col("events").isin(*REACHING))
        .withColumn("w", F.col("lw_above_outs") * F.col("woba_scale"))
        .groupBy("division", "year")
        .pivot("events", list(REACHING))
        .agg(F.max("w"))
        .withColumnsRenamed(
            {
                "walk": "wbb", "hit_by_pitch": "whbp", "single": "w1b",
                "double": "w2b", "triple": "w3b", "home_run": "whr",
            }
        )
    )
    league = parsed.groupBy("division", "year").agg(
        F.sum("runs_on_play").alias("lg_runs"), F.sum("outs_on_play").alias("lg_outs")
    )
    out_lw = (
        lw.where(F.col("events") == "out")
        .select(
            "division", "year",
            (F.col("tot_u").cast("double") / F.col("n") / 1000000.0).alias("lw_out"),
        )
    )
    runs_out = -F.coalesce(F.col("lw_out"), F.lit(-0.1))
    consts = (
        league.join(F.broadcast(out_lw), ["division", "year"], "left")
        .select(
            "division", "year",
            (
                9.0 * (F.col("lg_runs").cast("double") * 3.0 / F.col("lg_outs")) * 1.5
                + 3.0
            ).alias("runs_win"),
            (-(2 * runs_out + 0.075)).alias("runs_cs"),
        )
    )
    ab = F.col("pa") - F.col("bb_all") - F.col("hbp") - F.col("sf") - F.col("sh")
    joined = (
        counting.join(F.broadcast(wts), ["division", "year"])
        .join(F.broadcast(scale), ["division", "year"])
        .join(F.broadcast(consts), ["division", "year"])
        .join(running, ["division", "year", "batter_name"], "left")
        .withColumn("ab", ab)
        .withColumn("sb", F.coalesce("sb", F.lit(0)))
        .withColumn("cs", F.coalesce("cs", F.lit(0)))
    )
    woba = saber.woba(
        F.col("bb_all"), F.col("hbp"), F.col("b1"), F.col("b2"), F.col("b3"), F.col("hr"),
        F.col("ab"), F.col("ibb"), F.col("sf"),
        F.col("wbb"), F.col("whbp"), F.col("w1b"), F.col("w2b"), F.col("w3b"), F.col("whr"),
    )
    wraa = saber.wraa(woba, F.lit(_LG_OBP), F.col("woba_scale"), F.col("pa"))
    sb_runs = F.col("sb") * 0.2 + F.col("cs") * F.col("runs_cs")
    rar = wraa + sb_runs + 0.033 * F.col("pa")
    return joined.select(
        "division", "year", "batter_name", "team_id", "pa", "ab", "sb", "cs",
        woba.alias("woba"),
        wraa.alias("wraa"),
        sb_runs.alias("bsr"),
        rar.alias("rar"),
        safe_div(rar, F.col("runs_win"), 0.0).alias("war"),
    )


@register("domain_guts", _GUTS_ORACLE, tags=("domain",))
def domain_guts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = materialized_parsed(spark, sf_dir)
    ev = F.col("event_type")
    league = parsed.groupBy("division", "year").agg(
        F.sum("runs_on_play").alias("lg_runs"),
        F.sum("outs_on_play").alias("lg_outs"),
        F.sum(F.when(ev.isin(*_PA_EVENTS), 1).otherwise(0)).alias("lg_pa"),
        F.sum(F.when(ev == "SB", 1).otherwise(0)).alias("lg_sb"),
        F.sum(F.when(ev == "CS", 1).otherwise(0)).alias("lg_cs"),
    )
    out_lw = (
        _lw_quant(parsed)
        .where(F.col("events") == "out")
        .select(
            "division", "year",
            (F.col("tot_u").cast("double") / F.col("n") / 1000000.0).alias("lw_out"),
        )
    )
    runs_out = -F.coalesce(F.col("lw_out"), F.lit(-0.1))
    return (
        league.join(F.broadcast(out_lw), ["division", "year"], "left")
        .select(
            "division", "year", "lg_runs", "lg_outs", "lg_pa", "lg_sb", "lg_cs",
            (F.col("lg_runs").cast("double") / F.col("lg_pa")).alias("runs_pa"),
            runs_out.alias("runs_out"),
            (-(2 * runs_out + 0.075)).alias("runs_cs"),
            F.when(
                F.col("lg_sb") + F.col("lg_cs") > 0,
                F.col("lg_cs").cast("double") / (F.col("lg_sb") + F.col("lg_cs")),
            ).otherwise(F.lit(0.0)).alias("cs_rate"),
            (
                9.0 * (F.col("lg_runs").cast("double") * 3.0 / F.col("lg_outs")) * 1.5
                + 3.0
            ).alias("runs_win"),
        )
    )


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
    pa_in = "(" + ", ".join(f"'{e}'" for e in _PA_EVENTS) + ")"
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
