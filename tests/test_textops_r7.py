"""Textops: the Gopher dup-gram family at its PUBLISHED widths
(z_corpus_repetition_long), its per-corpus state, and the fixture-scale
FSM trace query."""

from __future__ import annotations

import collections

import pyarrow as pa
import pyarrow.parquet as pq

_Q = 1_000_000
_GROUP, _BOILER_N, _BOILER_MOD = 50, 12, 8


def _write_documents(path, rows):
    tbl = pa.Table.from_pylist(
        [
            {
                "doc_id": did,
                "text": t,
                "lang": "en",
                "source": "planted",
                "n_chars": len(t),
            }
            for did, t in rows
        ],
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(tbl, str(path / "documents.parquet"))


def _ref_repetition_long(rows):
    """Independent pure-python evaluation of the long-doc dup-gram contract
    (fresh implementation, not the engine's shape)."""
    groups: dict[int, list] = collections.defaultdict(list)
    for did, text in rows:
        groups[did // _GROUP].append((did, text))
    out = {}
    for g, members in groups.items():
        members.sort()
        boiler = " ".join(members[0][1].lower().split()[:_BOILER_N])
        parts = [
            (boiler + " " + t) if did % _BOILER_MOD == 0 else t for did, t in members
        ]
        toks = " ".join(parts).lower().split()
        if len(toks) < 2:
            continue
        den = len(" ".join(toks))
        rec = {"n_tokens": len(toks)}
        ok = True
        for n in range(5, 11):
            cnt = collections.Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            dup = sum((c - 1) * len(gm) for gm, c in cnt.items() if c > 1)
            qv = dup * _Q // den
            rec[f"dup{n}_q"] = qv
            ok = ok and qv <= 150_000 - (n - 5) * 10_000
        rec["rep_pass"] = ok
        out[g] = rec
    return out


def test_repetition_long_pure_python_parity(spark, tmp_path, monkeypatch):
    """Engine == an independent pure-python evaluation on a planted corpus
    spanning two groups: a periodic mega-repeater, mixed prose, and a
    short-token tail; verdict, counts, and every width exact."""
    from d3d_etl_spark.queries import textops

    # a pytest dir is a new sf-less scale on every run: keep its state out
    # of the shared root, where it would crowd real scales out of the LRU
    monkeypatch.setattr(textops.LONGDOCS, "root", str(tmp_path / "state"))
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i} eta theta") for i in range(1, 40)]
    rows += [(i, "one two three four five " * 4) for i in range(40, 50)]  # repeats
    rows += [(i, f"plain unique text {i} with nothing shared across") for i in range(50, 61)]
    _write_documents(tmp_path, rows)
    got = {
        r.long_doc_id: r
        for r in textops.z_corpus_repetition_long(spark, str(tmp_path)).collect()
    }
    want = _ref_repetition_long(rows)
    assert set(got) == set(want)
    for g, w in want.items():
        r = got[g]
        assert r.n_tokens == w["n_tokens"], g
        for n in range(5, 11):
            assert getattr(r, f"dup{n}_q") == w[f"dup{n}_q"], (g, n)
        assert r.rep_pass == w["rep_pass"], g
    # the planted repeats genuinely exercise the widths: group 0 carries
    # the periodic docs, so every dup width is strictly positive there
    assert all(want[0][f"dup{n}_q"] > 0 for n in range(5, 11))


def test_sfless_corpora_keep_separate_state(spark, tmp_path, monkeypatch):
    """Two data dirs without an sf token are two scales (io.sf_tag keys
    them by path): each gets its own longdocs state directory, and each
    answer matches its own corpus, not the one built first."""
    from d3d_etl_spark.queries import textops

    monkeypatch.setattr(textops.LONGDOCS, "root", str(tmp_path / "state"))
    corpora = {
        "a": [(i, "one two three four five " * 4) for i in range(1, 20)],
        "b": [(i, f"plain unique text {i} with nothing shared") for i in range(1, 31)],
    }
    dirs = {}
    for name, rows in corpora.items():
        (tmp_path / name).mkdir()
        _write_documents(tmp_path / name, rows)
        dirs[name] = str(tmp_path / name)
    assert textops.LONGDOCS.path(dirs["a"]) != textops.LONGDOCS.path(dirs["b"])
    for name, rows in corpora.items():
        got = {
            r.long_doc_id: (r.n_tokens, r.rep_pass)
            for r in textops.z_corpus_repetition_long(spark, dirs[name]).collect()
        }
        want = {g: (w["n_tokens"], w["rep_pass"]) for g, w in _ref_repetition_long(rows).items()}
        assert got == want, name


def test_repetition_long_nondegenerate_at_gate_scale(spark):
    """At the driver's gate scale every published width is strictly
    positive for every long doc AND the verdict splits (some pass, some
    fail) — the operator runs at its published parameters, not in the
    all-zero regime the short-doc corpus gives raw documents."""
    from d3d_etl_spark.queries import textops

    out = textops.z_corpus_repetition_long(
        spark, "/root/testdata/sf0.01"
    ).toPandas()
    assert len(out) == 10
    for n in range(5, 11):
        assert (out[f"dup{n}_q"] > 0).all(), n
    assert 0 < int(out.rep_pass.sum()) < len(out)


def test_pbp_fixture_trace_matches_hand_trace(spark):
    """The registry FSM-trace query reproduces the hand-computed
    expectations from tests/test_pbp.py (independent copy)."""
    from d3d_etl_spark.queries.pbp_fixture import z_pbp_fixture_trace

    expected = {  # play_id -> (event, bases_before, outs_before, runs, bases_after)
        1: ("1B", "NNN", 0, 0, "YNN"),
        3: ("2B", "YYN", 0, 1, "NYY"),
        5: ("SF", "NYY", 1, 1, "NYN"),
        7: ("HR", "NNN", 0, 1, "NNN"),
        9: ("GDP", "YNN", 0, 0, "NNN"),
        12: ("SO_WP", "NYN", 0, 0, "YNY"),
        13: ("3B", "YNY", 0, 2, "NNY"),
        16: ("FC", "YNY", 1, 0, "YYN"),
        17: ("CS", "YYN", 2, 0, "NYN"),
    }
    got = {
        r.play_id: (
            r.event_type,
            r.bases_before,
            r.outs_before,
            r.runs_on_play,
            r.bases_after,
        )
        for r in z_pbp_fixture_trace(spark, "unused").collect()
    }
    assert len(got) == 17
    for pid, want in expected.items():
        assert got[pid] == want, (pid, got[pid], want)


def test_pbp_fixture_trace2_novel_grammar(spark):
    """Game 2's hand-traced expectations for the grammar classes game 1
    doesn't reach: pinch-run renames (live and no-op), both PKE variants,
    the batter extra-advance, TP/DP narrated-out accounting, and the
    NP/SUB/FOUL_ERR no-ops."""
    from d3d_etl_spark.queries.pbp_fixture import z_pbp_fixture_trace2

    expected = {  # play_id -> (event, bases_before, outs_before, runs, bases_after)
        2: ("WP", "YNN", 0, 0, "NYN"),
        5: ("1B", "YNY", 0, 0, "YYY"),  # pinch rename at 1st + single cascade
        6: ("BB", "YYY", 0, 1, "YYY"),  # bases-loaded walk force chain
        8: ("DP", "YYY", 1, 0, "NYY"),  # lined DP: batter + narrated runner out
        10: ("ROE", "YNN", 0, 0, "NYY"),  # batter extra-advance to 2nd
        11: ("CI", "NYY", 0, 0, "YYY"),
        12: ("TP", "YYY", 0, 0, "NNY"),  # 3 outs on one play from 0
        16: ("PK", "YNY", 0, 0, "NNY"),
        18: ("PKE", "YNY", 1, 0, "YNY"),  # picked off, SAFE: stays put
        19: ("PKE", "YNY", 1, 0, "NYY"),  # safe + narrated advance: moves
        20: ("SO_SAFE", "NYY", 1, 1, "YYN"),
        21: ("NP", "YYN", 1, 0, "YYN"),
        22: ("SUB", "YYN", 1, 0, "YYN"),
        23: ("FOUL_ERR", "YYN", 1, 0, "YYN"),
        28: ("BK", "NYN", 0, 0, "NNY"),
        29: ("ERR", "NNY", 0, 1, "NNN"),
        32: ("2B", "NNN", 2, 0, "NYN"),  # pinch targets this play's batter: no-op
        33: ("BB", "NYN", 2, 0, "YYN"),  # live rename VANCE -> WALSH at 2nd
        34: ("1B", "YYN", 2, 1, "YYN"),  # WALSH scores under the NEW name
        37: ("SH", "YNN", 0, 0, "NYN"),
    }
    got = {
        r.play_id: (
            r.event_type,
            r.bases_before,
            r.outs_before,
            r.runs_on_play,
            r.bases_after,
        )
        for r in z_pbp_fixture_trace2(spark, "unused").collect()
    }
    assert len(got) == 39
    for pid, want in expected.items():
        assert got[pid] == want, (pid, got[pid], want)
    # outs never exceed 3 and every half ends exactly at 3 except none
    df = z_pbp_fixture_trace2(spark, "unused").toPandas()
    assert (df.outs_after <= 3).all()
    assert (
        df.groupby(["inning", "half"]).outs_after.max() == 3
    ).all()  # every fixture half-inning closes
