"""z_pbp_fixture_trace — the narration FSM transition itself, driver-hashed
at fixture scale.

The FSM over an arbitrary corpus has no closed relational form; its SQL
image is a recursion with one step per play, unrolled here over two
hand-traced games and, in z_pbp_corpus_fsm, over the whole corpus. The
fixture queries check the FSM the bounded way the funnel/LR/BPE unrolls
do: the ENGINE runs the production parse_pbp — the
same classifier cascade, outs/runs counting, window layer, and
mapInPandas FSM as the flagships — over the hand-traced 17-play fixture
game (the tests/test_pbp.py trace), and the ORACLE recomputes every
transition in pure SQL: a recursive CTE whose step function is GENERATED
from the same rule tables the engine compiles (events.EVENT_RULES
priority cascade, EVENT_OUTS, state._BATTER_DEST, the forced-advance
cascade and extra-base displacement rules of state._place_batter, and the
runner-segment grammar of state._RUNNER_RE). Engine and oracle share the
rule data, not the implementation.

Grammar subset: everything the fixture exercises — hits 1B/2B/3B/HR,
BB/IBB/HBP, SO and SO-reached-on-WP, ground/fly/pop outs, SAC fly,
fielder's choice, GDP, SB/CS, multi-segment runner advances/scores/outs,
forced-advance cascades, half-inning state resets. Not unrolled here
(absent from the fixture, pytest-pinned instead): pinch-run renames,
pickoff-error stays, batter extra-advance in segment 1
(tests/test_pbp.py::test_narration_variants, test_widened_grammar).

Reference parity: pbp_parser/columns.py:332-529 (state machine),
columns.py:532-619 (classifier cascade) — semantics matched, engine
implementation fresh (pbp/state.py), oracle derived from rule tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier
from d3d_etl_spark.pbp.events import EVENT_OUTS, EVENT_RULES, PA_EVENTS
from d3d_etl_spark.pbp.state import _BATTER_DEST, _BATTER_VERBS, _RUNNER_ONLY
from d3d_etl_spark.queries.domain import (
    _batting_war_ctes,
    _er_re24_ctes,
    _run_value_ctes,
    _sql_in,
    run_value_guts,
)
from d3d_etl_spark.queries.registry import register
from d3d_etl_spark.queries.war_chain import _batting_cube_ctes, batting_war_of

# The hand-traced game (tests/test_pbp.py keeps its own copy next to the
# play-by-play expectations so the pytest trace stays independent of this
# module). (inning, half, text); half: T=away bats (away_text), B=home.
FIXTURE_GAME: list[tuple[int, str, str]] = [
    (1, "T", "JONES, A. singled to left field"),
    (1, "T", "SMITH, B. walked; JONES, A. advanced to second"),
    (1, "T", "DAVIS, C. doubled; JONES, A. scored; SMITH, B. advanced to third"),
    (1, "T", "MILLER, D. struck out swinging"),
    (1, "T", "WILSON, E. flied out to cf, SAC, RBI; SMITH, B. scored"),
    (1, "T", "TAYLOR, F. grounded out to ss"),
    (1, "B", "BROWN, G. homered, RBI"),
    (1, "B", "CLARK, H. hit by pitch"),
    (1, "B", "LEWIS, I. grounded into double play; CLARK, H. out at second"),
    (2, "T", "JONES, A. walked"),
    (2, "T", "JONES, A. stole second"),
    (2, "T", "SMITH, B. struck out, reached first on a wild pitch; JONES, A. advanced to third"),
    (2, "T", "DAVIS, C. tripled; JONES, A. scored; SMITH, B. scored"),
    (2, "T", "MILLER, D. popped up to 2b"),
    (2, "T", "WILSON, E. intentionally walked"),
    (2, "T", "TAYLOR, F. reached on a fielder's choice; DAVIS, C. out at home; WILSON, E. advanced to second"),
    (2, "T", "TAYLOR, F. caught stealing, out at second c to 2b"),
]

# state._RUNNER_RE with inner groups made non-capturing (group 1 = runner
# name, group 2 = action), RE2/(?i) form for DuckDB
_RUNNER_PAT = (
    r"(?i)^\s*(.*?)\s+(scor(?:ed|es)|advanc(?:ed|es) to (?:second|third|home)|"
    r"out at (?:first|second|third|home)|"
    r"st(?:ole|eals) (?:second|third|home)|caught stealing|picked off|"
    r"pinch ran for\s+.*)"
)
_BATTER_PAT = rf"(?i)^\s*(.*?)\s+(?:{_BATTER_VERBS})"


def _q(pat: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return pat.replace("'", "''")


def _classifier_case() -> str:
    arms = "\n    ".join(
        f"WHEN regexp_matches(low, '{_q(pat)}') THEN '{code}'"
        for code, pat in EVENT_RULES
    )
    return f"CASE\n    {arms}\n    ELSE 'NP' END"


def _outs_sql() -> str:
    """events.outs_on_play as SQL (same rule table, same overlaps)."""
    arms = " ".join(f"WHEN '{c}' THEN {n}" for c, n in EVENT_OUTS.items())
    return f"""CAST(
    (CASE event {arms} ELSE 0 END)
    + len(regexp_extract_all(low, '\\bout at (first|second|third|home)\\b'))
    - CASE WHEN event IN ('GDP', 'DP')
           THEN LEAST(len(regexp_extract_all(low, '\\bout at (first|second|third|home)\\b')), 1) ELSE 0 END
    - CASE WHEN event = 'TP'
           THEN LEAST(len(regexp_extract_all(low, '\\bout at (first|second|third|home)\\b')), 2) ELSE 0 END
    - CASE WHEN event IN ('CS', 'PK')
           THEN LEAST(len(regexp_extract_all(low, '\\bout at (first|second|third|home)\\b')), 1) ELSE 0 END
    AS INT)"""


def _runs_sql() -> str:
    """events.runs_on_play as SQL (explicit narration counts + RBI fallback)."""
    return """CAST(
    GREATEST(
      len(regexp_extract_all(low, '\\bhomer(ed|s)\\b'))
      + len(regexp_extract_all(low, '\\bscor(ed|es)\\b'))
      + len(regexp_extract_all(low, '\\badvanc(ed|es) to home\\b'))
      + len(regexp_extract_all(low, '\\bst(ole|eals) home\\b'))
      - len(regexp_extract_all(low, '\\bscored, scored\\b')), 0)
    + CASE WHEN (len(regexp_extract_all(low, '\\bhomer(ed|s)\\b'))
                 + len(regexp_extract_all(low, '\\bscor(ed|es)\\b'))
                 + len(regexp_extract_all(low, '\\badvanc(ed|es) to home\\b'))
                 + len(regexp_extract_all(low, '\\bst(ole|eals) home\\b'))
                 - len(regexp_extract_all(low, '\\bscored, scored\\b'))) = 0
                AND regexp_matches(low, '\\brbi\\b')
           THEN CASE WHEN regexp_extract(low, '(\\d+)\\s*rbi', 1) = ''
                     THEN 1 ELSE CAST(regexp_extract(low, '(\\d+)\\s*rbi', 1) AS INT) END
           ELSE 0 END
    AS INT)"""


def _seg_levels(inner: str, p: str, seg: str, gate: str, i: str, o: str) -> str:
    """Three derived-table levels applying runner segment column `seg` to
    state columns {i}1..{i}3, producing {o}1..{o}3 — the SQL form of
    state._apply_runner_segment, gated by `gate` (passthrough when false
    or when the segment doesn't parse as a runner action). Pinch-run
    segments rename the OLD runner's base slot to the new name in place;
    a pinch naming a runner not on base is a no-op (same as the engine —
    e.g. the pinch target is this play's batter, not yet placed)."""
    lvl_parse = f"""SELECT *,
      nullif(trim(regexp_extract({seg}, '{_q(_RUNNER_PAT)}', 1)), '') AS {p}nm,
      lower(regexp_extract({seg}, '{_q(_RUNNER_PAT)}', 2)) AS {p}act,
      nullif(trim(regexp_extract({seg}, '(?i)pinch ran for\\s+(.*)$', 1)), '') AS {p}old
    FROM ({inner})"""
    lookup = f"COALESCE({p}old, {p}nm)"
    lvl_locate = f"""SELECT *,
      CASE WHEN NOT ({gate}) OR {p}nm IS NULL THEN NULL
           WHEN {i}3 IS NOT NULL AND lower(trim({i}3)) = lower({lookup}) THEN 3
           WHEN {i}2 IS NOT NULL AND lower(trim({i}2)) = lower({lookup}) THEN 2
           WHEN {i}1 IS NOT NULL AND lower(trim({i}1)) = lower({lookup}) THEN 1
           END AS {p}at,
      ({p}act LIKE 'scor%' OR {p}act LIKE 'out at%'
       OR {p}act LIKE 'caught stealing%' OR {p}act LIKE 'picked off%') AS {p}rm,
      CASE WHEN {p}act LIKE 'advanc%' OR {p}act LIKE 'stole%' OR {p}act LIKE 'steals%'
           THEN CASE WHEN {p}act LIKE '%second' THEN 2
                     WHEN {p}act LIKE '%third' THEN 3 ELSE 4 END
           END AS {p}dest
    FROM ({lvl_parse})"""
    outs = ",\n      ".join(
        f"""CASE
        WHEN {p}at IS NULL THEN {i}{k}
        WHEN {p}old IS NOT NULL THEN
             CASE WHEN {p}at = {k} THEN {p}nm ELSE {i}{k} END
        WHEN ({p}rm = FALSE AND {p}dest IS NULL) THEN {i}{k}
        WHEN {p}dest = {k} THEN {p}nm
        WHEN {p}at = {k} THEN NULL
        ELSE {i}{k} END AS {o}{k}"""
        for k in (1, 2, 3)
    )
    return f"SELECT *,\n      {outs}\n    FROM ({lvl_locate})"


def _pke_levels(inner: str, i: str, o: str) -> str:
    """Pickoff-error handling (state.fsm_step's PKE branch): the runner is
    SAFE — stays put unless segment 1 also narrates an advance or score.
    Passthrough for every other event."""
    lvl = f"""SELECT *,
      nullif(trim(regexp_extract(seg1, '(?i)^\\s*(.*?)\\s+picked off', 1)), '') AS pknm,
      regexp_extract(lower(seg1), 'advanc(?:ed|es) to (second|third|home)', 1) AS pkadv,
      regexp_matches(lower(seg1), 'scor(?:ed|es)') AS pksc
    FROM ({inner})"""
    lvl2 = f"""SELECT *,
      CASE WHEN event <> 'PKE' OR pknm IS NULL THEN NULL
           WHEN {i}3 IS NOT NULL AND lower(trim({i}3)) = lower(pknm) THEN 3
           WHEN {i}2 IS NOT NULL AND lower(trim({i}2)) = lower(pknm) THEN 2
           WHEN {i}1 IS NOT NULL AND lower(trim({i}1)) = lower(pknm) THEN 1
           END AS pkat,
      CASE WHEN pkadv = 'second' THEN 2 WHEN pkadv = 'third' THEN 3
           WHEN pkadv = 'home' THEN 4 WHEN pksc THEN 4 END AS pkdest
    FROM ({lvl})"""
    occ = f"CASE pkat WHEN 1 THEN {i}1 WHEN 2 THEN {i}2 WHEN 3 THEN {i}3 END"
    outs = ",\n      ".join(
        f"""CASE
        WHEN pkat IS NULL OR pkdest IS NULL THEN {i}{k}
        WHEN pkdest = {k} THEN {occ}
        WHEN pkat = {k} THEN NULL
        ELSE {i}{k} END AS {o}{k}"""
        for k in (1, 2, 3)
    )
    return f"SELECT *,\n      {outs}\n    FROM ({lvl2})"


def _extra_advance_levels(inner: str) -> str:
    """Batter extra-advance narrated in segment 1 ('reached on a throwing
    error, advanced to second'): applied AFTER placement, engine regex
    mirrored literally ('advanced to ...', state.fsm_step:187-189).
    n1..n3 -> g1..g3."""
    gate = (
        "event NOT IN ('NP', 'SUB', 'FOUL_ERR') AND event <> 'HR' "
        f"AND event <> 'PKE' AND event NOT IN {_sql_in(_RUNNER_ONLY)} "
        "AND batter IS NOT NULL"
    )
    lvl = f"""SELECT *,
      regexp_extract(lower(seg1), 'advanced to (second|third|home)', 1) AS xadv
    FROM ({inner})"""
    lvl2 = f"""SELECT *,
      CASE WHEN NOT ({gate}) OR xadv = '' THEN NULL
           WHEN n3 IS NOT NULL AND lower(trim(n3)) = lower(batter) THEN 3
           WHEN n2 IS NOT NULL AND lower(trim(n2)) = lower(batter) THEN 2
           WHEN n1 IS NOT NULL AND lower(trim(n1)) = lower(batter) THEN 1
           END AS xat,
      CASE WHEN xadv = 'second' THEN 2 WHEN xadv = 'third' THEN 3
           WHEN xadv = 'home' THEN 4 END AS xdest
    FROM ({lvl})"""
    outs = ",\n      ".join(
        f"""CASE
        WHEN xat IS NULL THEN n{k}
        WHEN xdest = {k} AND xdest <= 3 THEN batter
        WHEN xat = {k} THEN NULL
        ELSE n{k} END AS g{k}"""
        for k in (1, 2, 3)
    )
    return f"SELECT *,\n      {outs}\n    FROM ({lvl2})"


def _batter_levels(inner: str, i: str) -> str:
    """Two derived-table levels: state._place_batter (+ HR clear,
    runner-only passthrough) from {i}1..{i}3 to n1..n3."""
    dest_arms = " ".join(f"WHEN '{c}' THEN {d}" for c, d in _BATTER_DEST.items())
    lvl_dest = f"""SELECT *,
      CASE event {dest_arms} END AS bdest,
      COALESCE(batter, 'UNKNOWN') AS bt
    FROM ({inner})"""
    common = f"""WHEN event IN ('NP', 'SUB', 'FOUL_ERR') THEN {{k}}
        WHEN event = 'HR' THEN NULL
        WHEN event IN {_sql_in(_RUNNER_ONLY)} THEN {{k}}
        WHEN bdest IS NULL OR bdest = 4 THEN {{k}}"""
    n1 = f"""CASE
        {common.format(k=f"{i}1")}
        WHEN bdest = 1 THEN bt
        ELSE {i}1 END AS n1"""
    n2 = f"""CASE
        {common.format(k=f"{i}2")}
        WHEN bdest = 1 THEN CASE WHEN {i}1 IS NOT NULL THEN {i}1 ELSE {i}2 END
        WHEN bdest = 2 THEN bt
        WHEN bdest = 3 THEN NULL
        ELSE {i}2 END AS n2"""
    n3 = f"""CASE
        {common.format(k=f"{i}3")}
        WHEN bdest = 1 THEN CASE WHEN {i}1 IS NOT NULL AND {i}2 IS NOT NULL
                                 THEN {i}2 ELSE {i}3 END
        WHEN bdest = 2 THEN CASE WHEN {i}2 IS NOT NULL AND {i}3 IS NULL
                                 THEN {i}2 ELSE {i}3 END
        WHEN bdest = 3 THEN bt
        ELSE {i}3 END AS n3"""
    return f"SELECT *,\n      {n1},\n      {n2},\n      {n3}\n    FROM ({lvl_dest})"


def _code(c1: str, c2: str, c3: str) -> str:
    return (
        f"concat(CASE WHEN {c1} IS NULL THEN 'N' ELSE 'Y' END, "
        f"CASE WHEN {c2} IS NULL THEN 'N' ELSE 'Y' END, "
        f"CASE WHEN {c3} IS NULL THEN 'N' ELSE 'Y' END)"
    )


# PKE is handled by its own stay-unless-advanced branch (engine fsm_step
# checks it before the runner-only dispatch), so segment 1 must NOT be
# applied as a plain runner action for it — 'picked off' would wrongly
# remove the safe runner
_SEG1_RUNNER_GATE = f"event IN {_sql_in(_RUNNER_ONLY - {'PKE'})}"


def _fixture_ctes(game: list[tuple[int, str, str]], sfx: str = "") -> str:
    """The per-game CTE chain (fx{sfx} .. trace{sfx}) — factored so the
    full-DAG fixture oracle (z_pbp_fixture_dag) can chain BOTH games'
    recursions into one statement; the single-game trace oracles use it
    with an empty suffix."""
    fx, ev0, ev, st = f"fx{sfx}", f"ev0{sfx}", f"ev{sfx}", f"st{sfx}"
    vals = ",\n    ".join(
        f"(CAST({seq + 1} AS BIGINT), {inning}, "
        f"'{'Top' if half == 'T' else 'Bottom'}', '{text.replace(chr(39), chr(39) * 2)}')"
        for seq, (inning, half, text) in enumerate(game)
    )
    seg_gate = "event NOT IN ('NP', 'SUB', 'FOUL_ERR')"
    # the fsm_step order: reset -> narrated runner segments 2..4 -> (segment
    # 1 as a runner action for runner-only events | the PKE safe branch) ->
    # batter placement -> batter extra-advance from segment 1
    chain = (
        "SELECT p.play_id, p.inning, p.half, p.event, p.batter,"
        " p.seg1, p.seg2, p.seg3, p.seg4,"
        f" {st}.inning AS pinning, {st}.half AS phalf,"
        f" CASE WHEN p.inning = {st}.inning AND p.half = {st}.half THEN {st}.r1 END AS a1,"
        f" CASE WHEN p.inning = {st}.inning AND p.half = {st}.half THEN {st}.r2 END AS a2,"
        f" CASE WHEN p.inning = {st}.inning AND p.half = {st}.half THEN {st}.r3 END AS a3"
        f" FROM {st} JOIN {ev} p ON p.play_id = {st}.play_id + 1"
    )
    chain = _seg_levels(chain, "s2", "seg2", seg_gate, "a", "b")
    chain = _seg_levels(chain, "s3", "seg3", seg_gate, "b", "c")
    chain = _seg_levels(chain, "s4", "seg4", seg_gate, "c", "d")
    chain = _seg_levels(chain, "s1", "seg1", _SEG1_RUNNER_GATE, "d", "dd")
    chain = _pke_levels(chain, "dd", "e")
    chain = _batter_levels(chain, "e")
    chain = _extra_advance_levels(chain)
    return f"""{fx}(play_id, inning, half, text) AS (
  VALUES
    {vals}
),
{ev0} AS (
  SELECT play_id, inning, half, text, lower(text) AS low,
         {_classifier_case()} AS event,
         nullif(trim(regexp_extract(trim(split_part(text, ';', 1)),
                                    '{_q(_BATTER_PAT)}', 1)), '') AS batter,
         trim(split_part(text, ';', 1)) AS seg1,
         trim(split_part(text, ';', 2)) AS seg2,
         trim(split_part(text, ';', 3)) AS seg3,
         trim(split_part(text, ';', 4)) AS seg4
  FROM {fx}
),
{ev} AS (
  SELECT *, {_outs_sql()} AS outs_on_play, {_runs_sql()} AS runs_on_play
  FROM {ev0}
),
{st} AS (
  SELECT CAST(0 AS BIGINT) AS play_id, 0 AS inning, '' AS half,
         CAST(NULL AS VARCHAR) AS r1, CAST(NULL AS VARCHAR) AS r2,
         CAST(NULL AS VARCHAR) AS r3, '' AS bases_before,
         CAST(NULL AS VARCHAR) AS p_r1, CAST(NULL AS VARCHAR) AS p_r2,
         CAST(NULL AS VARCHAR) AS p_r3
  UNION ALL
  SELECT f.play_id, f.inning, f.half, f.g1, f.g2, f.g3,
         {_code("f.a1", "f.a2", "f.a3")},
         f.a1, f.a2, f.a3
  FROM ({chain}) f
),
trace{sfx} AS (
  SELECT s.play_id, s.inning, s.half, e.event AS event_type, e.batter,
         s.bases_before, {_code("s.r1", "s.r2", "s.r3")} AS bases_after,
         s.p_r1 AS r1_name, s.p_r2 AS r2_name, s.p_r3 AS r3_name,
         e.outs_on_play, e.runs_on_play
  FROM {st} s JOIN {ev} e ON e.play_id = s.play_id
  WHERE s.play_id > 0
)"""


def _fixture_oracle(game: list[tuple[int, str, str]]) -> str:
    return f"""
WITH RECURSIVE {_fixture_ctes(game)}
SELECT play_id, CAST(inning AS INT) AS inning, half, event_type,
       bases_before, bases_after,
       CAST(COALESCE(SUM(outs_on_play) OVER (
         PARTITION BY inning, half ORDER BY play_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
         AS outs_before,
       CAST(COALESCE(SUM(outs_on_play) OVER (
         PARTITION BY inning, half ORDER BY play_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + outs_on_play AS INT) AS outs_after,
       CAST(runs_on_play AS INT) AS runs_on_play,
       CAST(SUM(runs_on_play) OVER (PARTITION BY inning, half) AS INT)
         AS runs_this_inn,
       CAST(SUM(runs_on_play) OVER (
         PARTITION BY inning, half ORDER BY play_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS INT)
         AS runs_roi
FROM trace
"""


# Game 2: the REST of the grammar — WP/PB/BK/DI/ERR/ADV runner events,
# PK and both PKE variants (safe-stays, safe-advances), SO_PB/SO_SAFE,
# ROE with the batter extra-advance, CI (a force event), SH, non-ground
# DP and TP with narrated runner outs, LO/FO/PO/FOUL/IF batter outs,
# FOUL_ERR and NP and SUB no-ops, pinch-run renames (one that no-ops
# because the target is this play's batter, one live rename whose NEW
# name must resolve a later 'scored' segment), and a bases-loaded walk
# force cascade. Every transition hand-traced (tests/test_textops_r7.py
# pins the novel ones; the driver hash pins all 39).
FIXTURE_GAME2: list[tuple[int, str, str]] = [
    (1, "T", "ADAMS, J. singled to center"),
    (1, "T", "ADAMS, J. advanced to second on a wild pitch"),
    (1, "T", "ADAMS, J. advanced to third on a passed ball"),
    (1, "T", "BAKER, L. walked"),
    (1, "T", "QUINN, Z. singled; PEREZ, Y. pinch ran for BAKER, L."),
    (1, "T", "CARTER, M. walked, RBI; ADAMS, J. scored"),
    (1, "T", "DIAZ, N. fouled out to c"),
    (1, "T", "EVANS, O. lined into a double play; CARTER, M. out at first"),
    (1, "B", "FORD, P. struck out, reached first on a passed ball"),
    (1, "B", "GRANT, Q. reached on a throwing error, advanced to second; FORD, P. advanced to third"),
    (1, "B", "IRVING, S. reached on catcher's interference"),
    (1, "B", "JAMES, T. lined into a triple play; IRVING, S. out at second; GRANT, Q. out at third"),
    (2, "T", "LOPEZ, V. doubled down the line"),
    (2, "T", "LOPEZ, V. advanced to third"),
    (2, "T", "MARSH, K. walked"),
    (2, "T", "MARSH, K. picked off"),
    (2, "T", "NOLAN, W. hit by pitch"),
    (2, "T", "NOLAN, W. picked off, safe on an error by 1b"),
    (2, "T", "NOLAN, W. picked off, safe on an error by 1b, advanced to second"),
    (2, "T", "OWENS, X. struck out, safe at first on a dropped third strike; LOPEZ, V. scored"),
    (2, "T", "Mound visit"),
    (2, "T", "BENCH, R. pinch hit for DIAZ, N."),
    (2, "T", "PRICE, A. fouled, dropped foul by 1b"),
    (2, "T", "PRICE, A. grounded out to 2b; NOLAN, W. advanced to third; OWENS, X. advanced to second"),
    (2, "T", "ROSS, B. flied out to cf, sacrifice fly, RBI; NOLAN, W. scored"),
    (2, "B", "SCOTT, C. singled up the middle"),
    (2, "B", "SCOTT, C. advanced to second on defensive indifference"),
    (2, "B", "balk; SCOTT, C. advanced to third"),
    (2, "B", "SCOTT, C. scored on an error by c"),
    (2, "B", "TATE, D. infield fly to ss"),
    (2, "B", "UPTON, E. lined out to 3b"),
    (2, "B", "VANCE, F. doubled; WALSH, G. pinch ran for VANCE, F."),
    (2, "B", "YORK, I. walked; WALSH, G. pinch ran for VANCE, F."),
    (2, "B", "ZINN, K. singled; WALSH, G. scored; YORK, I. advanced to second"),
    (2, "B", "AVERY, L. flied out to rf"),
    (3, "T", "HARRIS, R. singled"),
    (3, "T", "BAKER, L. sacrificed, bunt to p; HARRIS, R. advanced to second"),
    (3, "T", "CARTER, M. struck out swinging"),
    (3, "T", "DIAZ, N. popped out to ss"),
]

_FIXTURE_ORACLE = _fixture_oracle(FIXTURE_GAME)
_FIXTURE2_ORACLE = _fixture_oracle(FIXTURE_GAME2)


def _run_fixture(
    spark: SparkSession, game: list[tuple[int, str, str]], contest: int
) -> DataFrame:
    from d3d_etl_spark.pbp.parser import parse_pbp

    rows = [
        (
            2024,
            "ncaa_3",
            contest,
            inning,
            text if half == "T" else None,
            text if half == "B" else None,
            seq,
        )
        for seq, (inning, half, text) in enumerate(game)
    ]
    raw = spark.createDataFrame(
        rows,
        "year int, division string, contest_id long, inning int, "
        "away_text string, home_text string, source_seq long",
    )
    p = parse_pbp(raw)
    return p.select(
        "play_id",
        F.col("inning").cast("int").alias("inning"),
        "half",
        "event_type",
        "bases_before",
        "bases_after",
        F.col("outs_before").cast("int").alias("outs_before"),
        F.col("outs_after").cast("int").alias("outs_after"),
        F.col("runs_on_play").cast("int").alias("runs_on_play"),
        F.col("runs_this_inn").cast("int").alias("runs_this_inn"),
        F.col("runs_roi").cast("int").alias("runs_roi"),
    )


@register("z_pbp_fixture_trace", _FIXTURE_ORACLE, tags=("stateful", "domain"))
def z_pbp_fixture_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION parse_pbp (classifier cascade + outs/runs counting +
    window layer + mapInPandas base-state FSM) over the hand-traced
    fixture game, driver-hashed against the rule-table-generated SQL
    recomputation of every transition. `sf_dir` is unused — the fixture is
    the planted input by design (bounded-scale FSM oracle)."""
    return _run_fixture(spark, FIXTURE_GAME, 100)


@register("z_pbp_fixture_trace2", _FIXTURE2_ORACLE, tags=("stateful", "domain"))
def z_pbp_fixture_trace2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game 2 of the FSM fixture oracle: the grammar classes game 1
    doesn't reach (see FIXTURE_GAME2's comment) — with this row the whole
    narration grammar the engine implements is driver-hashed at fixture
    scale, not just pytest-pinned."""
    return _run_fixture(spark, FIXTURE_GAME2, 200)


# ---------------------------------------------------------------------------
# z_pbp_fixture_dag — the FULL per-play DAG column set at fixture scale:
# everything z_pbp_dag computes per play beyond the FSM trace —
# batting-order slot (W8 cumcount + modular, W9 grouped ffill to
# non-PA rows), running team scores (W4 segmented running sums), the
# pooled RE24 matrix (A1 grouped mean over BOTH games) and the
# before/after expectancy joins with the end-of-inning key rewrite (J7) —
# driver-hashed over the two hand-traced fixture games in ONE query (both
# games flow through one multi-game mapInPandas FSM run), so every column
# class upstream of the end-to-end pipelines (z_pbp_dag / z_pbp_war) is
# hash-verified at fixture scale; the corpus-scale stages are oracled over
# the materialized FSM output (domain_*).
# ---------------------------------------------------------------------------

_PA_SQL = _sql_in(PA_EVENTS)


def _both_games_raw(spark: SparkSession) -> DataFrame:
    """Both fixture games as one raw narration frame (contests 100/200)."""
    rows = [
        (
            2024,
            "ncaa_3",
            contest,
            inning,
            text if half == "T" else None,
            text if half == "B" else None,
            seq,
        )
        for contest, game in ((100, FIXTURE_GAME), (200, FIXTURE_GAME2))
        for seq, (inning, half, text) in enumerate(game)
    ]
    return spark.createDataFrame(
        rows,
        "year int, division string, contest_id long, inning int, "
        "away_text string, home_text string, source_seq long",
    )

_W_IH = "PARTITION BY contest_id, inning, half ORDER BY play_id"
_W_G = "PARTITION BY contest_id ORDER BY play_id"
_W_H = "PARTITION BY contest_id, half ORDER BY play_id"
_B4 = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
_CUM = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

# Window-derived play columns over a `plays0` CTE (contest_id + the trace
# columns) — shared by the fixture full-DAG/WAR oracles AND the corpus-scale
# FSM oracle, which differ only in where plays0 comes from (two
# hand-traced VALUES games vs the whole materialized synthetic corpus).
_PLAYS_WINDOW_CTES = f"""p1 AS (
  SELECT contest_id, play_id, inning, half, event_type, batter,
         r1_name, r2_name, r3_name,
         bases_before, bases_after, outs_on_play,
         CAST(COALESCE(SUM(outs_on_play) OVER ({_W_IH} {_B4}), 0) AS INT)
           AS outs_before,
         CAST(COALESCE(SUM(outs_on_play) OVER ({_W_IH} {_B4}), 0)
           + outs_on_play AS INT) AS outs_after,
         CAST(runs_on_play AS INT) AS runs_on_play,
         CAST(SUM(runs_on_play) OVER (PARTITION BY contest_id, inning, half)
           AS INT) AS runs_this_inn,
         CAST(SUM(runs_on_play) OVER ({_W_IH}
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS INT)
           AS runs_roi,
         CASE WHEN event_type IN {_PA_SQL} THEN
           ((SUM(CASE WHEN event_type IN {_PA_SQL} THEN 1 ELSE 0 END)
               OVER ({_W_H} {_CUM}) - 1) % 9) + 1 END AS slot,
         CAST(COALESCE(SUM(CASE WHEN half = 'Bottom' THEN runs_on_play
                                ELSE 0 END) OVER ({_W_G} {_B4}), 0) AS INT)
           AS home_score_before,
         CAST(COALESCE(SUM(CASE WHEN half = 'Top' THEN runs_on_play
                                ELSE 0 END) OVER ({_W_G} {_B4}), 0) AS INT)
           AS away_score_before,
         CAST(SUM(CASE WHEN half = 'Bottom' THEN runs_on_play ELSE 0 END)
           OVER ({_W_G} {_CUM}) AS INT) AS home_score_after,
         CAST(SUM(CASE WHEN half = 'Top' THEN runs_on_play ELSE 0 END)
           OVER ({_W_G} {_CUM}) AS INT) AS away_score_after
  FROM plays0
),
fxplays AS (
  SELECT *,
         'ncaa_3' AS division, 2024 AS year, batter AS batter_name,
         CAST(COALESCE(last_value(slot IGNORE NULLS)
           OVER ({_W_H} {_CUM}), 1) AS INT) AS bat_order
  FROM p1
)"""

# the two-fixture-games plays0 + the shared window block
_FIXTURE_PLAYS_CTES = f"""plays0 AS (
  SELECT CAST(100 AS BIGINT) AS contest_id, * FROM trace1
  UNION ALL
  SELECT CAST(200 AS BIGINT) AS contest_id, * FROM trace2
),
{_PLAYS_WINDOW_CTES}"""

_DAG_ORACLE = f"""
WITH RECURSIVE {_fixture_ctes(FIXTURE_GAME, "1")},
{_fixture_ctes(FIXTURE_GAME2, "2")},
{_FIXTURE_PLAYS_CTES},
{_er_re24_ctes("fxplays")}
SELECT contest_id, play_id, CAST(inning AS INT) AS inning, half,
       event_type, batter_name,
       bases_before, bases_after, outs_before, outs_after,
       runs_on_play, runs_this_inn, runs_roi, bat_order,
       away_score_before, home_score_before,
       away_score_after, home_score_after,
       re_before, re_after, re24
FROM p
"""


@register("z_pbp_fixture_dag", _DAG_ORACLE, tags=("stateful", "domain"))
def z_pbp_fixture_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production parse + RE24 chain (parse_pbp -> expected_runs_long
    -> add_re24) over BOTH fixture games in one run, emitting the complete
    per-play DAG column set. `sf_dir` is unused — the fixtures are the
    planted input by design (bounded-scale full-DAG oracle)."""
    from d3d_etl_spark.pbp.metrics import add_re24, expected_runs_long
    from d3d_etl_spark.pbp.parser import parse_pbp

    # expected_runs_long and add_re24 both read the parse
    parsed = barrier(parse_pbp(_both_games_raw(spark)))
    plays = add_re24(parsed, expected_runs_long(parsed))
    return plays.select(
        "contest_id",
        "play_id",
        F.col("inning").cast("int").alias("inning"),
        "half",
        "event_type",
        "batter_name",
        "bases_before",
        "bases_after",
        F.col("outs_before").cast("int").alias("outs_before"),
        F.col("outs_after").cast("int").alias("outs_after"),
        F.col("runs_on_play").cast("int").alias("runs_on_play"),
        F.col("runs_this_inn").cast("int").alias("runs_this_inn"),
        F.col("runs_roi").cast("int").alias("runs_roi"),
        "bat_order",
        "away_score_before",
        "home_score_before",
        "away_score_after",
        "home_score_after",
        "re_before",
        "re_after",
        "re24",
    )


# ---------------------------------------------------------------------------
# z_pbp_fixture_war — the batting-WAR chain driver-hashed at fixture scale:
# raw narration -> production parse (FSM) -> the production run-value
# chain (run_value_guts: linear weights -> wOBA weights + scale -> league
# constants) -> the batting cube (SB/CS credited to the pre-play runner on
# first) -> batting_war. The oracle chains BOTH games' rule-table-generated
# recursive CTEs into the same SQL mirror the corpus-scale oracles use
# (domain._run_value_ctes, queries/war_chain._batting_cube_ctes,
# domain._batting_war_ctes over src = fxplays), so the runner-NAME state
# (r1_name feeds the SB/CS split), which the bases-code traces alone never
# pin, is hash-verified from raw text.
# ---------------------------------------------------------------------------


def _war_fixture_oracle() -> str:
    return f"""
WITH RECURSIVE {_fixture_ctes(FIXTURE_GAME, "1")},
{_fixture_ctes(FIXTURE_GAME2, "2")},
{_FIXTURE_PLAYS_CTES},
{_run_value_ctes("fxplays")},
{_batting_cube_ctes("fxplays")},
{_batting_war_ctes("bcube")}
SELECT division, year, player_id AS batter_name, pa, ab, sb, cs, woba, wraa, rar,
       war_raw AS war
FROM batwar
"""


@register("z_pbp_fixture_war", _war_fixture_oracle(), tags=("stateful", "domain", "war"))
def z_pbp_fixture_war(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production batting-WAR chain (the one domain_war_players'
    batting arm runs over the corpus) over the fixture parse. `sf_dir` is
    unused — the fixtures are the planted input by design (bounded-scale
    end-to-end WAR oracle)."""
    from d3d_etl_spark.pbp.parser import parse_pbp

    parsed = barrier(parse_pbp(_both_games_raw(spark)))
    return batting_war_of(parsed, run_value_guts(parsed)).select(
        "division",
        "year",
        F.col("player_id").alias("batter_name"),
        F.col("pa").cast("long").alias("pa"),
        F.col("ab").cast("long").alias("ab"),
        F.col("sb").cast("long").alias("sb"),
        F.col("cs").cast("long").alias("cs"),
        "woba",
        "wraa",
        "rar",
        F.col("war_raw").alias("war"),
    )


# ---------------------------------------------------------------------------
# z_pbp_corpus_fsm — the FSM + window DAG oracled at CORPUS scale: the
# fixture recursion generalized from two hand-written VALUES
# games to the WHOLE materialized synthetic corpus at sf_dir's scale. The
# engine side reads the materialized FSM parquet (the exact table every
# domain_* oracle consumes — queries/domain.py:materialized_parsed); the
# oracle re-derives every per-play transition from the RAW narration
# parquet with the same rule-table-generated recursive step function the
# fixture traces use, all games advancing in lockstep (one recursion
# iteration = one play per game), so the corpus-scale FSM output itself is
# hash-verified, not only its downstream aggregates.
# ---------------------------------------------------------------------------


def _corpus_ctes() -> str:
    """fxc .. tracec: the per-game CTE chain over the raw_games glob, with
    contest_id threaded through the recursion (seed = one row per game,
    step joins on (contest_id, play_id + 1))."""
    from d3d_etl_spark.queries.domain import RAW_GAMES

    seg_gate = "event NOT IN ('NP', 'SUB', 'FOUL_ERR')"
    chain = (
        "SELECT p.contest_id, p.play_id, p.inning, p.half, p.event, p.batter,"
        " p.seg1, p.seg2, p.seg3, p.seg4,"
        " stc.inning AS pinning, stc.half AS phalf,"
        " CASE WHEN p.inning = stc.inning AND p.half = stc.half THEN stc.r1 END AS a1,"
        " CASE WHEN p.inning = stc.inning AND p.half = stc.half THEN stc.r2 END AS a2,"
        " CASE WHEN p.inning = stc.inning AND p.half = stc.half THEN stc.r3 END AS a3"
        " FROM stc JOIN evc p"
        " ON p.contest_id = stc.contest_id AND p.play_id = stc.play_id + 1"
    )
    chain = _seg_levels(chain, "s2", "seg2", seg_gate, "a", "b")
    chain = _seg_levels(chain, "s3", "seg3", seg_gate, "b", "c")
    chain = _seg_levels(chain, "s4", "seg4", seg_gate, "c", "d")
    chain = _seg_levels(chain, "s1", "seg1", _SEG1_RUNNER_GATE, "d", "dd")
    chain = _pke_levels(chain, "dd", "e")
    chain = _batter_levels(chain, "e")
    chain = _extra_advance_levels(chain)
    return f"""fxc AS (
  SELECT contest_id,
         row_number() OVER (PARTITION BY contest_id ORDER BY source_seq)
           AS play_id,
         inning,
         CASE WHEN away_text IS NOT NULL AND away_text <> ''
              THEN 'Top' ELSE 'Bottom' END AS half,
         COALESCE(away_text, home_text) AS text
  FROM read_parquet('{RAW_GAMES.glob}')
  WHERE COALESCE(away_text, home_text) IS NOT NULL
    AND COALESCE(away_text, home_text) <> ''
),
ev0c AS (
  SELECT contest_id, play_id, inning, half, text, lower(text) AS low,
         {_classifier_case()} AS event,
         nullif(trim(regexp_extract(trim(split_part(text, ';', 1)),
                                    '{_q(_BATTER_PAT)}', 1)), '') AS batter,
         trim(split_part(text, ';', 1)) AS seg1,
         trim(split_part(text, ';', 2)) AS seg2,
         trim(split_part(text, ';', 3)) AS seg3,
         trim(split_part(text, ';', 4)) AS seg4
  FROM fxc
),
evc AS (
  SELECT *, {_outs_sql()} AS outs_on_play, {_runs_sql()} AS runs_on_play
  FROM ev0c
),
stc AS (
  SELECT contest_id, CAST(0 AS BIGINT) AS play_id, 0 AS inning, '' AS half,
         CAST(NULL AS VARCHAR) AS r1, CAST(NULL AS VARCHAR) AS r2,
         CAST(NULL AS VARCHAR) AS r3, '' AS bases_before,
         CAST(NULL AS VARCHAR) AS p_r1, CAST(NULL AS VARCHAR) AS p_r2,
         CAST(NULL AS VARCHAR) AS p_r3
  FROM (SELECT DISTINCT contest_id FROM fxc)
  UNION ALL
  SELECT f.contest_id, f.play_id, f.inning, f.half, f.g1, f.g2, f.g3,
         {_code("f.a1", "f.a2", "f.a3")},
         f.a1, f.a2, f.a3
  FROM ({chain}) f
),
tracec AS (
  SELECT s.contest_id, s.play_id, s.inning, s.half, e.event AS event_type,
         e.batter, s.bases_before, {_code("s.r1", "s.r2", "s.r3")} AS bases_after,
         s.p_r1 AS r1_name, s.p_r2 AS r2_name, s.p_r3 AS r3_name,
         e.outs_on_play, e.runs_on_play
  FROM stc s JOIN evc e
    ON e.contest_id = s.contest_id AND e.play_id = s.play_id
  WHERE s.play_id > 0
)"""


_CORPUS_FSM_ORACLE = f"""
WITH RECURSIVE {_corpus_ctes()},
plays0 AS (
  SELECT contest_id, play_id, inning, half, event_type, batter,
         bases_before, bases_after, r1_name, r2_name, r3_name,
         outs_on_play, runs_on_play
  FROM tracec
),
{_PLAYS_WINDOW_CTES}
SELECT contest_id, play_id, CAST(inning AS INT) AS inning, half, event_type,
       batter_name, bases_before, bases_after, r1_name, r2_name, r3_name,
       outs_before, outs_after, runs_on_play, runs_this_inn, runs_roi,
       bat_order, away_score_before, home_score_before,
       away_score_after, home_score_after
FROM fxplays
"""


@register("z_pbp_corpus_fsm", _CORPUS_FSM_ORACLE, tags=("stateful", "domain"))
def z_pbp_corpus_fsm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized corpus FSM output — every play of every synthetic
    game at sf_dir's scale, with the full state column set (bases codes,
    runner NAMES, outs/runs windows, bat_order, team scores) — hashed
    against the rule-table-generated recursive recomputation over the raw
    narration parquet. Closes the 'FSM parquet itself is only
    smoke-checked at corpus scale' gap (the fixture traces pin the grammar
    at bounded scale; this pins the production output the domain_* oracles
    consume). Reference parity: pbp_parser/columns.py:332-529."""
    from d3d_etl_spark.queries.domain import materialized_parsed, materialized_raw

    # ensure the RAW parquet exists (the oracle's scan) even when the
    # parsed family is already memoized — the two families LRU separately
    materialized_raw(spark, sf_dir)
    parsed = materialized_parsed(spark, sf_dir)
    return parsed.select(
        "contest_id",
        "play_id",
        F.col("inning").cast("int").alias("inning"),
        "half",
        "event_type",
        "batter_name",
        "bases_before",
        "bases_after",
        "r1_name",
        "r2_name",
        "r3_name",
        F.col("outs_before").cast("int").alias("outs_before"),
        F.col("outs_after").cast("int").alias("outs_after"),
        F.col("runs_on_play").cast("int").alias("runs_on_play"),
        F.col("runs_this_inn").cast("int").alias("runs_this_inn"),
        F.col("runs_roi").cast("int").alias("runs_roi"),
        F.col("bat_order").cast("int").alias("bat_order"),
        F.col("away_score_before").cast("int").alias("away_score_before"),
        F.col("home_score_before").cast("int").alias("home_score_before"),
        F.col("away_score_after").cast("int").alias("away_score_after"),
        F.col("home_score_after").cast("int").alias("home_score_after"),
    )
