"""token_sort_ratio parity (reference names/helpers.py:186-200): a
pure-python scorer against hand-computed values, against an INDEPENDENT
second implementation (Wagner-Fischer indel DP — a different algorithm
from the scorer's LCS route), against rapidfuzz's own published
documentation examples, and against rapidfuzz itself when installed.
The first three run unconditionally, so parity evidence does not depend
on rapidfuzz being present in the environment. The engine's cascades
score JVM-side (token-sorted Levenshtein, operators/fuzzy_join.py)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

try:
    from rapidfuzz.fuzz import token_sort_ratio as _rapidfuzz_tsr
except ImportError:
    _rapidfuzz_tsr = None

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def _process(s: str) -> str:
    """rapidfuzz default_process + token sort."""
    return " ".join(sorted(_NON_ALNUM.sub(" ", str(s).lower()).split()))


def _lcs_len(a: str, b: str) -> int:
    """Longest-common-subsequence length, O(len(a)*len(b)) rolling rows."""
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, start=1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def token_sort_ratio_py(a: str, b: str) -> float:
    """token_sort_ratio as rapidfuzz defines it:
    100 * (1 - indel / (la + lb)) with indel = la + lb - 2 * LCS."""
    pa, pb = _process(a), _process(b)
    la, lb = len(pa), len(pb)
    if la + lb == 0:
        return 100.0
    indel = la + lb - 2 * _lcs_len(pa, pb)
    return 100.0 * (1.0 - indel / (la + lb))


# (a, b, expected) — hand-computed: process (lower, non-alnum -> space,
# sort tokens, single-space join), indel = la + lb - 2*LCS,
# score = 100 * (1 - indel / (la + lb))
_CASES = [
    ("john smith", "smith john", 100.0),          # token sort: identical
    ("John  SMITH", "smith, john", 100.0),        # case/punct/space immune
    ("jon smith", "john smith", 100.0 * (1 - 1 / 19)),  # one insertion
    ("new york mets", "new york meats", 100.0 * (1 - 1 / 27)),
    ("abc", "xyz", 0.0),
    ("", "", 100.0),
    ("a", "", 0.0),
]


def _indel_ratio_dp(a: str, b: str) -> float:
    """Independent oracle: full Wagner-Fischer DP with insert=1, delete=1,
    substitute=2 (the Indel metric rapidfuzz documents for fuzz.ratio),
    applied after the same token-sort preprocessing. Deliberately a
    DIFFERENT algorithm from token_sort_ratio_py's ``la + lb - 2*LCS``
    route so the two can cross-check each other."""
    proc = lambda s: " ".join(sorted(re.sub(r"[^a-z0-9]+", " ", str(s).lower()).split()))
    pa, pb = proc(a), proc(b)
    if not pa and not pb:
        return 100.0
    prev = list(range(len(pb) + 1))
    for i, ca in enumerate(pa, start=1):
        cur = [i]
        for j, cb in enumerate(pb, start=1):
            cur.append(min(
                prev[j] + 1,          # delete from a
                cur[j - 1] + 1,       # insert into a
                prev[j - 1] + (0 if ca == cb else 2),  # sub = delete+insert
            ))
        prev = cur
    return 100.0 * (1.0 - prev[-1] / (len(pa) + len(pb)))


@pytest.mark.parametrize("a,b,want", _CASES)
def test_scorer_parity(a, b, want):
    got = token_sort_ratio_py(a, b)
    assert got == pytest.approx(want)
    assert got == pytest.approx(_indel_ratio_dp(a, b))
    if _rapidfuzz_tsr is not None:
        assert got == pytest.approx(_rapidfuzz_tsr(a, b))


# Published rapidfuzz documentation examples (README / API docs) — an
# external anchor that does not require the library at test time.
_PUBLISHED = [
    # rapidfuzz README: fuzz.ratio("this is a test", "this is a test!")
    # -> 96.55172413793103; token_sort_ratio preprocessing leaves these
    # single-sentence inputs token-identical up to the trailing "!".
    ("this is a test", "this is a test!", 100.0 * (1 - 0 / 28)),
    # rapidfuzz README: token_sort_ratio("fuzzy wuzzy was a bear",
    #                                    "wuzzy fuzzy was a bear") -> 100.0
    ("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear", 100.0),
]


@pytest.mark.parametrize("a,b,want", _PUBLISHED)
def test_published_rapidfuzz_values(a, b, want):
    assert token_sort_ratio_py(a, b) == pytest.approx(want)
    assert _indel_ratio_dp(a, b) == pytest.approx(want)


_token = st.text(alphabet="abcXY 0.,-'", min_size=0, max_size=24)


@settings(max_examples=300, deadline=None)
@given(_token, _token)
def test_property_scorer_vs_dp(a, b):
    """LCS-based scorer == DP-based oracle on random strings, plus the
    metric invariants: range, symmetry, identity."""
    got = token_sort_ratio_py(a, b)
    assert got == pytest.approx(_indel_ratio_dp(a, b))
    assert 0.0 <= got <= 100.0
    assert got == pytest.approx(token_sort_ratio_py(b, a))
    assert token_sort_ratio_py(a, a) == 100.0
    if _rapidfuzz_tsr is not None:
        assert got == pytest.approx(_rapidfuzz_tsr(a, b))


def test_fuzzy_tier_in_cascade(spark):
    """Tier 5 (JVM token-sorted Levenshtein) resolves the corrupted probe
    to the right candidate at the reference's 0.7 cutoff."""
    from d3d_etl_spark.operators.fuzzy_join import roster_cascade

    cands = spark.createDataFrame(
        [(1, "b1", "John Smith"), (2, "b1", "Alice Jones"), (3, "b1", "Bob Brown")],
        "cand_id int, blk string, cname string",
    )
    probes = spark.createDataFrame(
        [(10, "b1", "Smith Jon"),     # token reorder + 1 char short -> fuzzy
         (11, "b1", "Alice Jones")],  # exact
        "probe_id int, blk string, pname string",
    )
    out = {
        r["probe_id"]: r
        for r in roster_cascade(
            probes, cands,
            block_keys=["blk"],
            probe_id="probe_id", probe_name="pname",
            cand_id="cand_id", cand_name="cname",
            cutoff=0.7,
        ).collect()
    }
    assert out[11]["tier"] == "exact" and out[11]["matched_id"] == 2
    assert out[10]["tier"] == "fuzzy" and out[10]["matched_id"] == 1


def test_cascade_tier_order(spark):
    """Jersey beats exact beats unique-last beats initial+last beats fuzzy
    (the reference's _resolve precedence, map_ncaa_to_cube.py:125-175)."""
    from d3d_etl_spark.operators.fuzzy_join import roster_cascade

    cands = spark.createDataFrame(
        [(1, "b", "John Smith", "12"), (2, "b", "Jane Smith", "7"),
         (3, "b", "Alice Wong", "9")],
        "cand_id int, blk string, cname string, cnum string",
    )
    probes = spark.createDataFrame(
        [
            # jersey 7 wins even though the name exactly matches cand 1
            (10, "b", "John Smith", "7"),
            # unique last: wong is unique; smith is NOT -> probe 12 falls
            # through last to initlast (j smith ambiguous too) then fuzzy
            (11, "b", "wong", None),
            (12, "b", "smith", None),
        ],
        "probe_id int, blk string, pname string, pnum string",
    )
    out = {
        r["probe_id"]: r
        for r in roster_cascade(
            probes, cands,
            block_keys=["blk"],
            probe_id="probe_id", probe_name="pname",
            cand_id="cand_id", cand_name="cname",
            probe_number="pnum", cand_number="cnum",
            cutoff=0.7,
        ).collect()
    }
    assert out[10]["tier"] == "jersey" and out[10]["matched_id"] == 2
    assert out[11]["tier"] == "last" and out[11]["matched_id"] == 3
    # "smith" vs token-sorted full names is far below 0.7 -> unmatched
    assert 12 not in out


def test_headshot_cascade_block_relaxation(spark):
    """reconcile_players precedence: (team,year) direct beats (team,year)
    fuzzy beats the team-only fallback block (reconcile_players.py:413-469)."""
    from d3d_etl_spark.operators.fuzzy_join import headshot_cascade

    cands = spark.createDataFrame(
        [(1, "tA", 2023, "John Smith"), (2, "tA", 2024, "John Smith"),
         (3, "tA", 2024, "Alice Wong")],
        "cand_id int, team string, year int, cname string",
    )
    probes = spark.createDataFrame(
        [
            (10, "tA", 2024, "john smith"),    # direct (normalized) in-year
            (11, "tA", 2024, "Alice Wongg"),   # fuzzy in-year
            (12, "tA", 2025, "John Smith"),    # wrong year -> team fallback
        ],
        "probe_id int, team string, year int, pname string",
    )
    out = {
        r["probe_id"]: r
        for r in headshot_cascade(
            probes, cands,
            team_key="team", year_key="year",
            probe_id="probe_id", probe_name="pname",
            cand_id="cand_id", cand_name="cname",
            cutoff=0.9,
        ).collect()
    }
    assert out[10]["tier"] == "direct" and out[10]["matched_id"] == 2
    assert out[11]["tier"] == "fuzzy" and out[11]["matched_id"] == 3
    assert out[12]["tier"] == "fuzzy_fallback" and out[12]["matched_id"] == 1
