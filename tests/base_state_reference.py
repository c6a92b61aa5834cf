"""The per-game base-state reference: one game's plays through
`pbp.state.fsm_step`, run as a grouped map. The batch parse's Arrow runner
(`pbp.state.base_state_arrow_iter`) is tested against it
(test_pbp.py::test_partitioned_fsm_matches_grouped,
test_skew.py::test_fsm_mega_game_parity).

The reference runs inside the Python workers, which cannot import a
module from `tests/`, so this module is pickled by value.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle

from d3d_etl_spark.pbp.state import fsm_step

cloudpickle.register_pickle_by_value(sys.modules[__name__])

BASE_STATE_SCHEMA = (
    "contest_id long, play_id long, bases_before string, bases_after string, "
    "r1_name string, r2_name string, r3_name string"
)


def base_state_fsm(group: pd.DataFrame) -> pd.DataFrame:
    """One game's plays (sorted by play_id) -> base-state columns."""
    bases: dict[int, str | None] = {1: None, 2: None, 3: None}
    cur_half: tuple | None = None
    out_rows: list[tuple] = []
    for row in group.itertuples(index=False):
        bases, cur_half, before, after, r1, r2, r3 = fsm_step(
            bases, cur_half, row.inning, row.half, row.play_text
        )
        out_rows.append((row.contest_id, row.play_id, before, after, r1, r2, r3))
    return pd.DataFrame(
        out_rows,
        columns=[
            "contest_id", "play_id", "bases_before", "bases_after",
            "r1_name", "r2_name", "r3_name",
        ],
    )
