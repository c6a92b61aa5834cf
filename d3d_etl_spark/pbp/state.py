"""Base-state FSM (SURVEY.md §2.8 F1).

Reconstructs (runner-on-1st, -2nd, -3rd) before/after every play from the
narration text. This is the genuinely sequential core the reference
implements at pbp_parser/columns.py:332-529: explicit runner-segment
processing, substitution renames, and the forced-advance cascade when the
batter takes a base. Implementation is fresh Python (not a copy): one pure
step function, fsm_step, driven by the batch parse's Arrow runner
(base_state_arrow_iter) and, in the tests, by a per-game grouped map
(tests/base_state_reference.py) — state never crosses games, so N games
parallelize perfectly across the cluster.

Narration grammar per FIXTURES.md §1: segments joined by ';', first segment
is the batter's event, later segments are runner events
("X advanced to third", "X scored", "X out at second", "X stole second",
"X pinch ran for Y").
"""

from __future__ import annotations

import re

import pyarrow as pa

from d3d_etl_spark.pbp.events import EVENT_RULES, NO_PLAY

_BATTER_VERBS = (
    "singl(?:ed|es)|doubl(?:ed|es)|tripl(?:ed|es)|homer(?:ed|s)|walk(?:ed|s)|"
    "str(?:uck|ikes) out|ground(?:ed|s)|fli(?:ed|es)|lin(?:ed|es)|"
    "pop(?:ped|s)|foul(?:ed|s)|infield fly|reach(?:ed|es)|hit by pitch|"
    "intentionally walk(?:ed|s)|sacrific(?:ed|es)|out on"
)
_BATTER_RE = re.compile(rf"^\s*(.*?)\s+(?:{_BATTER_VERBS})", re.IGNORECASE)
_RUNNER_RE = re.compile(
    r"^\s*(.*?)\s+(scor(?:ed|es)|advanc(?:ed|es) to (?:second|third|home)|"
    r"out at (?:first|second|third|home)|"
    r"st(?:ole|eals) (?:second|third|home)|caught stealing|picked off|"
    r"pinch ran for\s+(.*))",
    re.IGNORECASE,
)
_BASE_WORD = {"first": 1, "second": 2, "third": 3, "home": 4}

_COMPILED_RULES = [(code, re.compile(pat, re.IGNORECASE)) for code, pat in EVENT_RULES]

# batter destination base per event (None = no base / not a batter event);
# SO_WP/SO_PB/SO_SAFE: batter reached on the dropped third strike
_BATTER_DEST = {
    "1B": 1, "BB": 1, "IBB": 1, "HBP": 1, "ROE": 1, "FC": 1,
    "SO_WP": 1, "SO_PB": 1, "SO_SAFE": 1, "CI": 1,
    "2B": 2, "3B": 3, "HR": 4,
}

# events with no batter action: only narrated runner movement applies
_RUNNER_ONLY = {"SB", "CS", "PK", "PKE", "WP", "PB", "BK", "DI", "ERR", "ADV"}
# events where trailing runners are FORCED ahead of the batter
_FORCE_EVENTS = {"BB", "IBB", "HBP", "CI"}

# what the FSM adds to each play, in output order
STATE_COLUMNS = ("bases_before", "bases_after", "r1_name", "r2_name", "r3_name")


def _classify(text: str) -> str:
    for code, rx in _COMPILED_RULES:
        if rx.search(text):
            return code
    return NO_PLAY


def _code(bases: dict[int, str | None]) -> str:
    return "".join("Y" if bases[b] else "N" for b in (1, 2, 3))


def _find_runner(bases: dict[int, str | None], name: str) -> int | None:
    name_l = name.strip().lower()
    for b in (3, 2, 1):  # highest base first: lead runners act first
        if bases[b] and bases[b].strip().lower() == name_l:
            return b
    return None


def _apply_runner_segment(bases: dict[int, str | None], seg: str) -> None:
    m = _RUNNER_RE.match(seg)
    if not m:
        return
    name, action = m.group(1), m.group(2).lower()
    at = _find_runner(bases, name)
    if action.startswith("pinch ran for"):
        old = m.group(3)
        if old:
            ob = _find_runner(bases, old)
            if ob:
                bases[ob] = name.strip()
        return
    if at is None:
        return
    if action.startswith(("scor", "out at", "caught stealing", "picked off")):
        bases[at] = None
    elif action.startswith(("advanc", "stole", "steals")):
        dest = _BASE_WORD[action.rsplit(" ", 1)[1]]
        bases[at] = None
        if dest < 4:
            bases[dest] = name.strip()


def _place_batter(bases: dict[int, str | None], event: str, batter: str | None) -> None:
    dest = _BATTER_DEST.get(event)
    if dest is None or dest == 4:
        return
    if event in _FORCE_EVENTS or dest == 1:
        # forced-advance cascade: push only runners still occupying the chain
        chain = []
        b = dest
        while b <= 3 and bases[b]:
            chain.append(b)
            b += 1
        for src in reversed(chain):
            if src + 1 <= 3:
                bases[src + 1] = bases[src]
            bases[src] = None
    else:
        # extra-base hit: displaced occupants advance ahead (2B pushes the
        # runner on 2nd to 3rd if the narration didn't already move them)
        for src in (3, 2) if dest == 3 else ((2,) if dest == 2 else ()):
            if src >= dest and bases[src]:
                if src + 1 <= 3 and not bases[src + 1]:
                    bases[src + 1] = bases[src]
                bases[src] = None
    if dest <= 3:
        bases[dest] = (batter or "").strip() or "UNKNOWN"


def fsm_step(
    bases: dict[int, str | None],
    cur_half: tuple | None,
    inning: int,
    half: str,
    text: str,
) -> tuple[dict[int, str | None], tuple, str, str, str | None, str | None, str | None]:
    """One play's state transition (pure: copies the base dict).

    Returns (new_bases, new_cur_half, bases_before, bases_after,
    r1_before, r2_before, r3_before). Shared by the batch Arrow map and
    the tests' per-game grouped map, so both have identical semantics by
    construction.
    """
    half_key = (inning, half)
    if half_key != cur_half:
        bases = {1: None, 2: None, 3: None}
        cur_half = half_key
    else:
        bases = dict(bases)
    before = _code(bases)
    r1, r2, r3 = bases[1], bases[2], bases[3]
    text = text or ""
    event = _classify(text)
    segments = [s for s in re.split(r"[;]", text) if s.strip()]
    if event not in (NO_PLAY, "SUB", "FOUL_ERR"):
        batter_m = _BATTER_RE.match(segments[0]) if segments else None
        batter = batter_m.group(1) if batter_m else None
        for seg in segments[1:]:
            _apply_runner_segment(bases, seg)
        if event == "PKE":
            # pickoff error: the runner is SAFE (reference regexes.py:109)
            # — stays put unless the same segment narrates an advance
            m = re.match(r"^\s*(.*?)\s+picked off", segments[0], re.IGNORECASE)
            at = _find_runner(bases, m.group(1)) if m else None
            if at is not None:
                adv = re.search(
                    r"advanc(?:ed|es) to (second|third|home)|scor(?:ed|es)",
                    segments[0], re.IGNORECASE,
                )
                if adv:
                    name = bases[at]
                    bases[at] = None
                    dest = _BASE_WORD[adv.group(1).lower()] if adv.group(1) else 4
                    if dest < 4:
                        bases[dest] = name
        elif event in _RUNNER_ONLY:
            # runner-only events: the acting runner is in segment 1
            _apply_runner_segment(bases, segments[0])
        elif event == "HR":
            bases = {1: None, 2: None, 3: None}
        else:
            _place_batter(bases, event, batter)
            # batter extra advance narrated in the same segment, e.g.
            # "reached on a throwing error, advanced to second"
            extra = re.search(
                r"advanced to (second|third|home)", segments[0], re.IGNORECASE
            )
            if extra and batter:
                at = _find_runner(bases, batter)
                if at is not None:
                    dest = _BASE_WORD[extra.group(1).lower()]
                    bases[at] = None
                    if dest < 4:
                        bases[dest] = batter.strip()
    return bases, cur_half, before, _code(bases), r1, r2, r3


def base_state_arrow_iter(batches):
    """The batch FSM runner, for mapInArrow over a partition sorted by
    (contest_id, play_id) in which no game spans partitions: every input
    column passes through and STATE_COLUMNS are appended. State resets
    whenever contest_id changes, so one Python worker walks MANY games in
    partition order instead of paying per-game group overhead, and it is
    carried ACROSS Arrow batches — batches arrive in partition order, so a
    game may straddle a batch boundary. Bit-identical to the per-game
    grouped map in tests/base_state_reference.py — pinned by
    tests/test_pbp.py::test_partitioned_fsm_matches_grouped. A grouped
    map is not the batch path: at bench scale AQE coalesces its small
    shuffle to ONE partition, serializing every game on one core, and each
    game pays its own pandas construction."""
    cur: object = object()
    bases: dict[int, str | None] = {}
    cur_half: tuple | None = None
    for batch in batches:
        out: list[list[str | None]] = [[] for _ in STATE_COLUMNS]
        for cid, inning, half, text in zip(
            *(batch.column(c).to_pylist() for c in ("contest_id", "inning", "half", "play_text"))
        ):
            if cid != cur:
                cur = cid
                bases = {1: None, 2: None, 3: None}
                cur_half = None
            bases, cur_half, *state = fsm_step(bases, cur_half, inning, half, text)
            for col, v in zip(out, state):
                col.append(v)
        yield pa.RecordBatch.from_arrays(
            batch.columns + [pa.array(col, pa.string()) for col in out],
            names=batch.schema.names + list(STATE_COLUMNS),
        )
