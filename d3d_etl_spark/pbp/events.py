"""Priority-ordered play-text classifier (SURVEY.md §2.9 T1).

The reference classifies narration with ~50 compiled regexes applied in a
priority order where ORDER IS SEMANTICS (reference pbp_parser/regexes.py:
57-188 and the cascade at columns.py:532-619 — e.g. K_WP must be checked
before K, intentional walk before walk, caught-stealing before steal).
Here the whole cascade compiles to ONE `when().when()...otherwise()` Column
— constant-folded, codegen'd, applied in a single pass over the text column.

Patterns are written fresh against the narration grammar documented in
FIXTURES.md §1 (not copied); rule order preserves the reference's precedence
contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (event_code, regex) in PRIORITY ORDER — first match wins. Order follows the
# reference cascade (columns.py:530-619): explicit no-play first, then hits,
# the strikeout family (incl. batter-safe variants, regexes.py:62-70), walks,
# runner-only events (DI before steals, pickoff-error before pickoff,
# regexes.py:104-109,133), battery events, interference, dropped-foul before
# fielder's choice, reached-on-error, then batter outs, generic error, and
# bare advances. Verb alternations (ed|es/s forms) per regexes.py:8-39.
EVENT_RULES: list[tuple[str, str]] = [
    ("NP", r"\bno play\b|\bmound visit\b|\bcoach visit\b|\btimeout\b|\bdelay\b"
           r"|\bpostponed\b|\bejected\b|\binjury\b|\breview\b|\bchallenged\b"
           r"|\boverturned\b|\bhalted\b|\bsuspended\b|\bhitting out of turn\b"),
    ("HR", r"\bhomer(ed|s)\b|\bhome run\b"),
    ("3B", r"\btripl(ed|es)\b"),
    ("2B", r"\bdoubl(ed|es)\b"),
    ("1B", r"\bsingl(ed|es)\b"),
    ("SO_WP", r"\bstr(uck|ikes) out\b.*\bwild pitch\b"),
    ("SO_PB", r"\bstr(uck|ikes) out\b.*\bpassed ball\b"),
    ("SO_SAFE", r"\bstr(uck|ikes) out\b.*\b(reached (first|base|on)"
                r"|safe at first|dropped (3rd|third) strike"
                r"|fielder'?s choice|e\d|bobble|advanced on)\b"),
    ("GDP", r"\bground(ed|s) into (a )?double play\b"),
    ("TP", r"\btriple play\b"),
    ("DP", r"\bdouble play\b"),
    ("SO", r"\bstr(uck|ikes) out\b"),
    ("IBB", r"\bintentionally walk(ed|s)\b"),
    ("BB", r"\bwalk(ed|s)\b"),                  # after IBB
    ("HBP", r"\bhit by pitch\b"),
    ("DI", r"\bdefensive indifference\b"),
    ("CS", r"\bcaught stealing\b|\bout at (second|third|home) c to\b"),  # before SB
    ("SB", r"\bst(ole|eals)\b"),
    ("PKE", r"\bpicked off\b.*\b(error|e\d|muffed|dropped)\b"),  # before PK
    ("PK", r"\bpicked off\b"),
    ("WP", r"\bwild pitch\b"),
    ("PB", r"\bpassed ball\b"),
    ("BK", r"\bbalk(ed|s)?\b"),
    ("CI", r"\binterference\b"),
    ("FOUL_ERR", r"\bdropped foul\b"),
    ("FC", r"fielder'?s choice"),
    ("ROE", r"\breach(ed|es) .*\berror\b"),
    ("SF", r"\bfli(ed|es) out\b.*\bsac(rifice)?\b|\bsacrifice fly\b"),
    ("SH", r"\b(sacrific(ed|es)|sacrifice bunt)\b"),
    ("GO", r"\bground(ed|s) out\b"),
    ("FO", r"\bfli(ed|es) out\b"),
    ("LO", r"\blin(ed|es) out\b"),
    ("PO", r"\bpop(ped|s) (out|up)\b"),
    ("FOUL", r"\bfoul(ed|s) out\b"),
    ("IF", r"\binfield fly\b"),
    ("SUB", r"\bto [a-z0-9]+ for\b|\bpinch (hit|ran)\b"),
    ("ERR", r"\berror\b|\be\d\b|\bmuffed\b|\bbobbled\b|\bdropped\b"),
    ("ADV", r"\badvanc(ed|es)\b"),
]

NO_PLAY = "NP"

# strikeout family (leaderboard K counts); _SAFE/_WP/_PB = batter reached
SO_EVENTS = ("SO", "SO_WP", "SO_PB", "SO_SAFE")

# events where the batter completes a plate appearance; sorted, so every
# IN-list built from it reads the same under any PYTHONHASHSEED
PA_EVENTS = tuple(sorted({
    "HR", "3B", "2B", "1B", "ROE", "FC", "HBP", "IBB", "BB",
    "SO_WP", "SO_PB", "SO_SAFE", "GDP", "TP", "DP", "SO",
    "SF", "SH", "GO", "FO", "LO", "PO", "FOUL", "IF", "CI",
}))

# outs charged directly by the batter's event
EVENT_OUTS = {
    "SO": 1, "GDP": 2, "TP": 3, "DP": 2,
    "GO": 1, "FO": 1, "LO": 1, "PO": 1, "SF": 1, "SH": 1, "FOUL": 1, "IF": 1,
    "CS": 1, "PK": 1,
}


def classify_event(text: Column) -> Column:
    """Compile the ordered rule list into one when-cascade Column."""
    expr = None
    low = F.lower(text)
    for code, pattern in EVENT_RULES:
        cond = low.rlike(pattern)
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    return expr.otherwise(NO_PLAY)


def outs_on_play(text: Column, event: Column) -> Column:
    """Outs recorded on the play: the batter-event charge plus runner outs
    narrated in later segments ("X out at third", "X caught stealing" in a
    non-CS-classified play), matching the reference's counting approach
    (columns.py:56-118: event charge + 'out at' scans)."""
    low = F.lower(text)
    base = None
    for code, n in EVENT_OUTS.items():
        base = F.when(event == code, n) if base is None else base.when(event == code, n)
    base = base.otherwise(0)
    runner_outs = F.regexp_count(low, F.lit(r"\bout at (first|second|third|home)\b"))
    # a GDP/DP narration also says "X out at second" for the lead runner(s) —
    # those outs are already in the event charge, don't double count
    dp_overlap = F.when(
        (event == "GDP") | (event == "DP"), F.least(runner_outs, F.lit(1))
    ).otherwise(0)
    tp_overlap = F.when(event == "TP", F.least(runner_outs, F.lit(2))).otherwise(0)
    cs_overlap = F.when(
        (event == "CS") | (event == "PK"), F.least(runner_outs, F.lit(1))
    ).otherwise(0)
    return (base + runner_outs - dp_overlap - tp_overlap - cs_overlap).cast("int")


def runs_on_play(text: Column) -> Column:
    """Runs scored on the play, mirroring the reference's narration counting
    (columns.py:179-203): 'homered/homers' (the HR batter's own run) plus
    'scored/scores', 'advanced/advances to home', 'stole/steals home'
    segments, minus the 'scored, scored' double-count correction; when no
    explicit run is narrated but the text carries an RBI tag, fall back to
    the stated RBI count (default 1)."""
    low = F.lower(text)
    explicit = (
        F.regexp_count(low, F.lit(r"\bhomer(ed|s)\b"))
        + F.regexp_count(low, F.lit(r"\bscor(ed|es)\b"))
        + F.regexp_count(low, F.lit(r"\badvanc(ed|es) to home\b"))
        + F.regexp_count(low, F.lit(r"\bst(ole|eals) home\b"))
        - F.regexp_count(low, F.lit(r"\bscored, scored\b"))
    )
    rbi_n = F.regexp_extract(low, r"(\d+)\s*rbi", 1)
    rbi_count = F.when(rbi_n == "", F.lit(1)).otherwise(rbi_n.cast("int"))
    has_rbi = low.rlike(r"\brbi\b")
    return (
        F.greatest(explicit, F.lit(0))
        + F.when((explicit == 0) & has_rbi, rbi_count).otherwise(0)
    ).cast("int")
