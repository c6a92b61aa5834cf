"""The GEMM pair tier's one kernel: a numpy brute force for the
cluster-local contrastive engine, and a source pin that keeps
operators/similarity.py at one cosine-block site and one Arrow worker."""

from __future__ import annotations

import ast
import math
import random
from pathlib import Path

import d3d_etl_spark.operators.similarity as sim_mod

_TAU = 0.95


def _round6(x: float) -> float:
    """Half-away-from-zero at 6 dp (Spark F.round / DuckDB ROUND)."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _brute_contrastive(rows, tau):
    """Per cluster: every ordered partner pair with sim >= tau, plus each
    anchor's hardest sub-tau partner (sim desc, id asc). A zero-norm
    vector has no cosine and pairs with nothing."""
    by_label: dict[int, list] = {}
    for vid, label, vec in rows:
        by_label.setdefault(label, []).append((vid, vec))
    out = set()
    for members in by_label.values():
        for a, va in members:
            na = math.sqrt(sum(x * x for x in va))
            negs = []
            for b, vb in members:
                nb = math.sqrt(sum(x * x for x in vb))
                if b == a or na == 0 or nb == 0:
                    continue
                s = _round6(sum(x * y for x, y in zip(va, vb)) / (na * nb))
                if s >= tau:
                    out.add((a, b, s, True))
                else:
                    negs.append((-s, b))
            if negs:
                s, b = min(negs)
                out.add((a, b, -s, False))
    return out


def test_within_cluster_contrastive_matches_brute_force(spark):
    from d3d_etl_spark.operators.similarity import within_cluster_contrastive_rows

    rng = random.Random(41)
    rows = []
    # cluster 0: anchor 10's two hardest negatives tie exactly (both at
    # 1/sqrt(2)); the tie must go to the min id 3, listed last
    rows += [
        (10, 0, [1.0, 0.0, 0.0, 0.0]),
        (12, 0, [1.0, 1.0, 0.0, 0.0]),
        (3, 0, [1.0, 0.0, 1.0, 0.0]),
    ]
    # cluster 1: a zero-norm vector among near-duplicates emits nothing
    rows += [
        (20, 1, [2.0, 1.0, 0.0, 1.0]),
        (21, 1, [2.0, 1.0, 0.0, 1.0]),
        (22, 1, [2.0, 1.0, 1.0, 1.0]),
        (23, 1, [0.0, 0.0, 0.0, 0.0]),
    ]
    # cluster 2: a single row has no partner
    rows += [(30, 2, [1.0, 2.0, 3.0, 4.0])]
    # clusters 3-5: small-integer vectors (exact dots) with planted dups
    vid = 100
    for label in (3, 4, 5):
        protos = [[float(rng.randint(-3, 3)) for _ in range(4)] for _ in range(6)]
        for p in protos + protos[:2]:
            rows.append((vid, label, list(p)))
            vid += 1
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")

    got = {
        (r.anchor, r.other, r.sim, r.is_pos)
        for r in within_cluster_contrastive_rows(df, _TAU).collect()
    }
    want = _brute_contrastive(rows, _TAU)
    assert got == want
    # the planted cases reach the assertion above
    assert (10, 3, _round6(1 / math.sqrt(2)), False) in got
    assert not any(23 in (a, o) for a, o, _, _ in got)
    assert not any(30 in (a, o) for a, o, _, _ in got)
    assert any(p for *_, p in got) and any(not p for *_, p in got)


def test_one_cosine_block_kernel():
    """operators/similarity.py has one cosine-block site (one einsum row
    norm, one matmul) and one Arrow worker factory (one applyInArrow call);
    every GEMM pair engine routes through it, with no cogroup left."""
    tree = ast.parse(Path(sim_mod.__file__).read_text())
    calls = [
        n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    matmuls = [
        n for n in ast.walk(tree) if isinstance(n, ast.BinOp) and isinstance(n.op, ast.MatMult)
    ]
    assert calls.count("einsum") == 1
    assert len(matmuls) == 1
    assert calls.count("applyInArrow") == 1
    assert calls.count("cogroup") == 0
    assert calls.count("applyInPandas") == 0
