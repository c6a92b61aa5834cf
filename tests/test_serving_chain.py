"""The IVF serving and sweep family runs on one chain of helpers in
queries/simsearch.py: one batch split, one exact verify plus top-1, one
cell trainer, one recall curve, and one NULL/NaN-safe sort key in
functions/vectors.py. A source pin keeps the copies from coming back;
raw_serving_recall gets its brute-force-equivalence check."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import d3d_etl_spark.queries.simsearch as ss

_PKG = Path(__file__).resolve().parents[1] / "d3d_etl_spark"


def _owners(path: Path, hit) -> list[str]:
    """Innermost function owning each AST node for which hit(node, text)
    is true, plus "<module>" for lines outside any function."""
    text = path.read_text()
    tree = ast.parse(text)
    funcs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]

    def owner(line: int) -> str:
        fs = [f for f in funcs if f.lineno <= line <= f.end_lineno]
        return min(fs, key=lambda f: f.end_lineno - f.lineno).name if fs else "<module>"

    return [owner(n.lineno) for n in ast.walk(tree) if hit(n, text)]


def test_serving_chain_source_pin():
    # one sort key: the only nanvl( call site is sim_desc_key
    nanvl = [
        f"{py.relative_to(_PKG)}:{i}"
        for py in sorted(_PKG.rglob("*.py"))
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if "nanvl(" in line
    ]
    assert len(nanvl) == 1 and nanvl[0].startswith("functions/vectors.py:"), nanvl

    # one batch split: `% bmod` lives in serving_split alone
    src = Path(ss.__file__)
    lines = src.read_text().splitlines()
    split_lines = [i for i, line in enumerate(lines, 1) if re.search(r"%\s*bmod\b", line)]
    owners = _owners(
        src, lambda n, _: isinstance(n, ast.FunctionDef) and any(
            n.lineno <= i <= n.end_lineno for i in split_lines
        )
    )
    assert split_lines and set(owners) == {"serving_split"}, (split_lines, owners)

    # one selective fetch of old vectors: a left_semi join on candidate
    # old ids, in _exact_top1
    def old_fetch(n, text):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "join"
            and any(isinstance(a, ast.Constant) and a.value == "left_semi" for a in n.args)
            and "old_id" in (ast.get_source_segment(text, n.args[0]) or "")
        )

    assert _owners(src, old_fetch) == ["_exact_top1"]

    # each shared helper is called by every member of its family
    def calls(name):
        return {
            o for o in _owners(src, lambda n, _: isinstance(n, ast.Call)
                               and getattr(n.func, "id", None) == name)
        }

    assert calls("_recall_curve") == {"z_sim_recall_sweep", "z_sim_ivf_scaledk"}
    assert calls("_exact_top1") == {"z_sim_incremental", "z_sim_pq_rerank", "raw_serving_recall"}
    assert calls("_train_cells") >= {"raw_serving_recall"}
    assert "_train_cells(" in ast.get_source_segment(
        src.read_text(),
        next(n for n in ast.parse(src.read_text()).body if getattr(n, "name", "") == "ivf_index_state"),
    )
    assert calls("_probe_cand") == {"z_sim_ivfpq", "_ivfpq_residual_search"}
    assert calls("_flag_top") == {"z_sim_pq", "z_sim_ivfpq", "_ivfpq_residual_search"}


def test_raw_serving_recall_full_probe_is_brute_force(spark, sf_dir):
    """At sf0.001 (500 vectors: 125 new, 375 old, K = 20 cells) probing
    every cell makes every old vector a candidate, so the served top-1 is
    the brute-force nearest neighbor for every new vector."""
    full = ss.raw_serving_recall(spark, sf_dir, nprobe=10**6)
    assert full["k_cells"] == 20 and full["nprobe"] == 20
    assert full["n_new"] == full["served"] == 125
    assert full["cand_per_new"] == 375
    assert full["recall@1"] == 1.0 and full["hits"] == "125/125"

    default = ss.raw_serving_recall(spark, sf_dir)
    assert set(default) == {
        "n", "nprobe", "k_cells", "n_new", "served", "cand_per_new", "recall@1", "hits",
    }
    assert default["n"] == 500 and default["nprobe"] == 3
    assert default["served"] == default["n_new"] == 125
    assert 0 < default["cand_per_new"] < 375
