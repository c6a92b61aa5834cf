"""Pitcher-queue FSM (SURVEY.md §2.8 F2, §2.3 J15) — the ordered/as-of
stateful join the reference implements at names/names.py:40-97: each team's
pitching lineup is an ordered queue; the active pitcher advances when a
pitching-substitution event ("X to p for Y") occurs while that team fields.

No relational join expresses "consume a queue in event order"; execution
is the partitioned multi-game runner (tag-union + secondary sort +
mapInPandas, state reset per contest — see fill_pitchers), with the
per-game cogroup form kept as the parity anchor. Fresh implementation
(not a copy); parallelizes across games like F1.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

PITCHER_SCHEMA = "contest_id long, play_id long, pitcher_name string"

_SUB_P_RE = re.compile(r"^\s*(.*?)\s+to p for\s+(.*?)\s*[.;]?\s*$", re.IGNORECASE)


def pitcher_step(
    queues: dict[str, list[str]], ptr: dict[str, int], half: str, play_text: str | None
) -> str | None:
    """One play's transition: advance/patch the fielding side's queue on a
    pitching substitution, return the active pitcher. Mutates queues/ptr.

    The FIELDING side's pitcher is on the mound: home pitches the Top half,
    away pitches the Bottom. A 'to p for' substitution takes effect for the
    side currently fielding, preferring the named sub; when the narration
    name is absent the queue supplies the next pitcher (the reference's
    fallback order, names/names.py:59-92). Shared by the partitioned runner
    and the cogroup FSM so the two agree by construction.
    """
    fielding = "home" if half == "Top" else "away"
    text = play_text or ""
    m = _SUB_P_RE.match(text.split(";")[0])
    if m:
        sub_in = m.group(1).strip()
        nxt = ptr[fielding] + 1
        if nxt < len(queues[fielding]) and queues[fielding][nxt].strip().lower() == sub_in.lower():
            ptr[fielding] = nxt
        else:
            # narration name not next in queue: trust the narration
            queues[fielding].insert(ptr[fielding] + 1, sub_in)
            ptr[fielding] += 1
    q, p = queues[fielding], ptr[fielding]
    return q[p] if p < len(q) else (q[-1] if q else None)


def _pitcher_fsm(plays: pd.DataFrame, lineup: pd.DataFrame) -> pd.DataFrame:
    """One game's (plays, pitching lineup) -> active pitcher per play."""
    plays = plays.sort_values("play_id", kind="mergesort")
    queues: dict[str, list[str]] = {}
    for side in ("home", "away"):
        rows = lineup[lineup["side"] == side].sort_values("pitch_order", kind="mergesort")
        queues[side] = list(rows["player_name"])
    ptr = {"home": 0, "away": 0}

    out = []
    for row in plays.itertuples(index=False):
        name = pitcher_step(queues, ptr, row.half, row.play_text)
        out.append((row.contest_id, row.play_id, name))
    return pd.DataFrame(out, columns=["contest_id", "play_id", "pitcher_name"])


def fill_pitchers_grouped(plays: DataFrame, pitching_lineups: DataFrame) -> DataFrame:
    """The per-game cogroup form of :func:`fill_pitchers` — kept as the
    parity anchor (tests pin the partitioned runner against it)."""
    return (
        plays.select("contest_id", "play_id", "half", "play_text")
        .groupBy("contest_id")
        .cogroup(pitching_lineups.groupBy("contest_id"))
        .applyInPandas(_pitcher_fsm, PITCHER_SCHEMA)
    )


def _pitcher_map_iter(batches):
    """Multi-game pitcher-queue runner over a tag-union sorted partition:
    per game, kind=0 rows (lineup, ordered by side/pitch_order) arrive
    first and build the queues; kind=1 rows (plays, ordered by play_id)
    then step the FSM. State carries across arrow batches; resets on
    contest change. Same rationale as state.base_state_arrow_iter: many
    games per worker instead of per-game cogroup overhead (and AQE cannot
    collapse the explicit repartition)."""
    cur: object = object()
    queues: dict[str, list[str]] = {}
    ptr: dict[str, int] = {}
    for pdf in batches:
        out: list[tuple] = []
        for row in pdf.itertuples(index=False):
            if row.contest_id != cur:
                cur = row.contest_id
                queues = {"home": [], "away": []}
                ptr = {"home": 0, "away": 0}
            if row.kind == 0:
                if row.side in queues:
                    queues[row.side].append(row.player_name)
            else:
                name = pitcher_step(queues, ptr, row.half, row.play_text)
                # play_id is nullable in the tag-union (lineup rows carry
                # null), so pandas promotes it to float64 — cast back
                # explicitly rather than trusting the arrow float->long cast
                out.append((row.contest_id, int(row.play_id), name))
        yield pd.DataFrame(out, columns=["contest_id", "play_id", "pitcher_name"])


def fill_pitchers(plays: DataFrame, pitching_lineups: DataFrame) -> DataFrame:
    """Ordered stateful join: plays x ordered pitching lineup -> active
    pitcher per play (J15).

    `plays` needs (contest_id, play_id, half, play_text);
    `pitching_lineups` needs (contest_id, side in {'home','away'},
    pitch_order, player_name).

    Execution: tag-union of the two inputs, hash-repartitioned by game and
    secondary-sorted so each game reads (lineup rows, then plays in order);
    one mapInPandas walks many games per worker — the partitioned twin of
    the base-state runner, bit-identical to the cogroup form
    (tests/test_pitchers.py pins it, including lineup-less games and
    arrow-batch boundaries).
    """
    from pyspark.sql import functions as F

    p = plays.select(
        "contest_id",
        "play_id",
        "half",
        "play_text",
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("side"),
        F.lit(None).cast("long").alias("pitch_order"),
        F.lit(None).cast("string").alias("player_name"),
    )
    lu = pitching_lineups.select(
        "contest_id",
        F.lit(None).cast("long").alias("play_id"),
        F.lit(None).cast("string").alias("half"),
        F.lit(None).cast("string").alias("play_text"),
        F.lit(0).alias("kind"),
        "side",
        F.col("pitch_order").cast("long").alias("pitch_order"),
        "player_name",
    )
    n = plays.sparkSession.sparkContext.defaultParallelism
    arranged = (
        p.unionByName(lu)
        .repartition(n, "contest_id")
        .sortWithinPartitions(
            "contest_id",
            "kind",
            F.coalesce(F.col("side"), F.lit("")),
            F.coalesce(F.col("pitch_order"), F.lit(-1)),
            F.coalesce(F.col("play_id"), F.lit(-1)),
        )
    )
    return arranged.mapInPandas(_pitcher_map_iter, PITCHER_SCHEMA)
