"""The full analytics DAG (SURVEY.md §3.1, reference processors/run_all.py:
84-154) as ONE Spark job graph.

The reference chains subprocesses with CSV files between stages; here every
arrow is a DataFrame hand-off inside one session, with the two reused
intermediates (`parsed`, `with_metrics` — each consumed by 3+ downstream
stages) behind an `io.barrier`, mirroring the reference's materialization
points (parsed_pbp / pbp_with_metrics, SURVEY.md §3.1). `parsed` is
materialized when run_analytics returns; `with_metrics` on the first
access to it or to any board.

    raw pbp ─ parse ─┬─ expected-runs (long + wide matrix)
                     ├─ linear weights ──┐
                     ├─ RE24 metrics ────┼─ guts constants
                     │    └ win prob (optional WE/LI) ─ clutch board
                     ├─ batting / situational boards
                     └─ (+ lineups) pitcher fill ─ pitching board

Every derived table is built LAZILY on first attribute access: merely
CONSTRUCTING a board DataFrame runs Catalyst analysis over its whole plan,
and the boards' expression trees are wide (event-type CASE cascades over
the parsed spine) — profiled at ~2.4 s of serialized driver time per
z_pbp_dag invocation spent analyzing five boards the query never executes
(guide §1.2 step 1 / §7.3: planning is single-threaded driver work). A
caller that touches every output (the multi-board publish path) pays
exactly what it paid before; a caller that reads one board pays one
board's analysis.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame

from d3d_etl_spark.io import barrier
from d3d_etl_spark.pbp.guts import guts_constants
from d3d_etl_spark.pbp.leaderboards import (
    baserunning_board,
    batted_ball_board,
    batting_board,
    clutch_board,
    pitching_board,
    situational_board,
)
from d3d_etl_spark.pbp.metrics import add_re24, expected_runs_long, linear_weights
from d3d_etl_spark.pbp.parser import expected_runs_matrix, parse_pbp
from d3d_etl_spark.pbp.pitchers import fill_pitchers
from d3d_etl_spark.pbp.win_prob import add_win_probability


class AnalyticsOutputs:
    """Lazy view over the analytics DAG: each attribute is the same
    DataFrame `run_analytics` always produced, built (and its spine
    materialized) on first access and cached on the instance. `parsed`
    arrives already materialized (run_analytics barriers it);
    `with_metrics` materializes on the first access to it or to any board
    (all boards read it).

    One thread per instance: `cached_property` takes no lock on Python
    >= 3.12, so two threads touching boards at once could both run the
    `with_metrics` materialization and hand different boards different
    DataFrames."""

    def __init__(
        self,
        parsed: DataFrame,
        pitching_lineups: DataFrame | None,
        win_expectancy: DataFrame | None,
        leverage_index: DataFrame | None,
        lg_obp: float,
    ) -> None:
        self.parsed = parsed
        self._lineups = pitching_lineups
        self._we = win_expectancy
        self._li = leverage_index
        self._lg_obp = lg_obp

    @cached_property
    def er_matrix(self) -> DataFrame:
        return expected_runs_matrix(self.parsed)

    @cached_property
    def with_metrics(self) -> DataFrame:
        wm = add_re24(self.parsed, expected_runs_long(self.parsed))
        if self._we is not None and self._li is not None:
            wm = add_win_probability(wm, self._we, self._li)
        return barrier(wm)  # linear weights, guts and every board read it

    @cached_property
    def linear_weights(self) -> DataFrame:
        return linear_weights(self.with_metrics, self._lg_obp)

    @cached_property
    def guts(self) -> DataFrame:
        return guts_constants(self.with_metrics, self.linear_weights, self._lg_obp)

    @cached_property
    def batting(self) -> DataFrame:
        return batting_board(self.with_metrics)

    @cached_property
    def situational(self) -> DataFrame:
        return situational_board(self.with_metrics)

    @cached_property
    def batted_ball(self) -> DataFrame:
        return batted_ball_board(self.with_metrics)

    @cached_property
    def baserunning(self) -> DataFrame:
        return baserunning_board(self.with_metrics)

    @cached_property
    def clutch(self) -> DataFrame | None:
        if self._we is None or self._li is None:
            return None
        return clutch_board(self.with_metrics)

    @cached_property
    def pitching(self) -> DataFrame | None:
        if self._lineups is None:
            return None
        filled = self.with_metrics.join(
            fill_pitchers(self.with_metrics, self._lineups), ["contest_id", "play_id"]
        )
        return pitching_board(filled)


def run_analytics(
    raw_pbp: DataFrame,
    pitching_lineups: DataFrame | None = None,
    win_expectancy: DataFrame | None = None,
    leverage_index: DataFrame | None = None,
    lg_obp: float = 0.360,
) -> AnalyticsOutputs:
    """raw narration -> every derived table (lazily, see AnalyticsOutputs).
    The parse is barriered: the ER matrix, RE24 and the pitcher fill all
    read it, and the barrier keeps the corpus-scale parse out of the
    broadcast builds downstream (ER lookup, linear weights, guts)."""
    return AnalyticsOutputs(
        parsed=barrier(parse_pbp(raw_pbp)),
        pitching_lineups=pitching_lineups,
        win_expectancy=win_expectancy,
        leverage_index=leverage_index,
        lg_obp=lg_obp,
    )
