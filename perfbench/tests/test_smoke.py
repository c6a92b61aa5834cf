"""Smoke test of the benchmark: every workload at toy size (sf0.001, two
pbp slices, one pass) prints every metric BENCHMARK.json names, with its
unit, in both the untraced and the traced mode.

    python3 -m pytest perfbench/tests -q

Takes a few minutes: each case starts its own Spark session, as the
benchmark does.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_toy_run_prints_every_metric(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--toy")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in named}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark must exit non-zero, without
    printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _bench(tmp_path, "--workload", "pbp_season", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_tail_percentile_keeps_ten_samples_above():
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(12) == 50.0  # never below the median
    assert run.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert run.percentile([5.0], 90) == 5.0


def test_registry_pass_counts_fixed_order_seeded():
    """One pass holds the same calls for every seed; only their order moves."""
    orders = [run.QueryWorkload(run.data_dir(run.SF), run.SF, seed, 1, run.Clock()).order
              for seed in (1, 2)]
    for order in orders:
        assert len(order) == len(run.REGISTRY_FAST) * run.REGISTRY_FAST_WEIGHT + len(run.REGISTRY_HEAVY)
        assert all(order.count(q) == run.REGISTRY_FAST_WEIGHT for q in run.REGISTRY_FAST)
        assert all(order.count(q) == 1 for q in run.REGISTRY_HEAVY)
    assert orders[0] != orders[1]
    assert run.tail_percentile(len(orders[0])) > 50.0
