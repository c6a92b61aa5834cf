#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries (registry entries tagged
bench=True) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...},
     "sf": 0.1, "cpus": 4, "heap": "4g",
     "host": {"steal": s, "iowait": s, "user": s, "sys": s, "load1": x},
     "samples_file": "BENCH.json"}

`queries` stays {name: min_sec} (the cross-run trend contract). The
printed line stays compact (under ~2 KB, so a tail-capped stdout capture
still parses it); the full payload, the same dict plus per-query
`samples`, is written to the sidecar BENCH.json next to this script.
`cpus` is the session's defaultParallelism and `heap` its live
spark.driver.memory: runs compare only at the same (sf, cpus, heap). The
sidecar also records `spark_version` and `python_version`.

Each sample holds the three timed runs ({min, median, runs}), so host
noise (median far above min, runs scattered) can be told from a plan
regression (all runs shifted) without re-benchmarking, plus:

- `host`: host-wide steal / iowait / user / sys CPU seconds across the
  query's three runs and the 1-minute load average after them
  (perfbench/procstat.py). The printed `host` is the same read over the
  whole session. Steal or iowait well above zero, or load1 well above
  `cpus`, means a loaded host: its wall deltas deserve no weight.
- `max_task`: per-task maxima (input MB / shuffle-read MB / peak execution
  memory MB, plus the top memory stage) read from the UI REST API across
  the query's stages. Wall clocks drift with host contention, task maxima
  do not. Absent (not zero) when the UI is unreachable.

Host and REST reads sit outside the timed sections. Each query is forced
end-to-end with the noop sink (full computation, no collect/serialization
overhead measured). Warm-up jobs run first so JVM/codegen startup is not
attributed to the first query.
"""

from __future__ import annotations

import json
import os
import platform
import re
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from d3d_etl_spark import queries as qmod
from d3d_etl_spark.queries.registry import REGISTRY
from d3d_etl_spark.session import get_spark
from perfbench import procstat


# Intentional, adjudicated task-memory growth: {name: (ceiling_mb, reason)}.
# A >2x flag diverts to task_mem_acknowledged (visible, not fatal) only
# while the measured peak stays under the ceiling, so an old adjudication
# never hides an unbounded jump. An entry expires once its level is the
# committed baseline; keeping it would mask the next regression.
_TASK_MEM_ACK: dict[str, tuple[float, str]] = {}

# Task maxima compare only like with like: same scale, same core count
# (task slots share one JVM) and same driver heap.
_GUARD_KEYS = ("sf", "cpus", "heap")


def _committed_bench() -> dict:
    """The committed BENCH.json (git HEAD, the last accepted run); {} when
    git or the HEAD copy is unavailable."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        raw = subprocess.run(
            ["git", "show", "HEAD:BENCH.json"],
            capture_output=True,
            cwd=repo,
            timeout=30,
        ).stdout
        return json.loads(raw) if raw else {}
    except Exception:
        return {}


def _task_mem_skip(run: dict, prev: dict) -> str | None:
    """Why the committed record `prev` is not comparable with this `run`
    (dicts carrying _GUARD_KEYS), or None when it is."""
    if not prev:
        return "no committed BENCH.json"
    missing = [k for k in _GUARD_KEYS if k not in prev]
    if missing:
        return f"committed BENCH.json lacks {', '.join(missing)}"
    diff = [f"{k} {run.get(k)} vs {prev[k]}" for k in _GUARD_KEYS if run.get(k) != prev[k]]
    return f"committed run differs: {'; '.join(diff)}" if diff else None


def _task_mem_regressions(
    samples: dict, run: dict, prev: dict
) -> tuple[list[str], list[str]]:
    """Diff this run's per-query max-task peak execution memory against the
    committed run `prev` and flag >2x growth. Task maxima are
    contention-immune, so a flagged entry is a plan regression, not host
    noise. Queries under 32 MB are skipped (hash-map resize granularity
    dominates there). Empty when `_task_mem_skip` names a reason."""
    if _task_mem_skip(run, prev):
        return [], []
    prev_s = prev.get("samples", {})
    regs, acked = [], []
    for name, s in sorted(samples.items()):
        cur = (s.get("max_task") or {}).get("peak_exec_mem_mb", 0)
        old = ((prev_s.get(name) or {}).get("max_task") or {}).get(
            "peak_exec_mem_mb", 0
        )
        if cur > 32 and old > 0 and cur > 2 * old:
            line = f"{name}: max task peak mem {old} -> {cur} MB (>2x)"
            ack = _TASK_MEM_ACK.get(name)
            if ack is not None and cur <= ack[0]:
                acked.append(
                    f"{line} — ACK (<= ceiling {ack[0]} MB): {ack[1]}"
                )
            else:
                regs.append(line)
    return regs, acked


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    qmod.load_all()
    bench_queries = {n: q for n, q in sorted(REGISTRY.items()) if q.bench}
    # report renamed-but-identical queries under their historical bench keys
    # so per-query trends stay comparable across runs (the z_ prefix only
    # re-sorts them out of the alphabetical verify window); a query whose
    # measured work changed reports under its own name
    aliases = {"z_join_asof": "join_asof"}
    host0 = procstat.host_times()

    ui_port = int(os.environ.get("SPARK_GRAFT_BENCH_UI_PORT", "4047"))
    spark = get_spark(
        app_name="d3d-etl-spark-bench",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(ui_port)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from d3d_etl_spark.plans import taskmetrics as tm

    app = tm.app_id(ui_port)  # None -> samples ship without max_task

    # warm-up: JVM, parquet reader path, codegen, and the Python worker pool
    # (first pandas-UDF query otherwise pays ~32 interpreter spawns + pandas
    # imports) — startup cost, not steady-state throughput
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    n_workers = spark.sparkContext.defaultParallelism

    def _identity(it):
        yield from it

    spark.range(n_workers).repartition(n_workers).mapInPandas(
        _identity, "id long"
    ).count()

    # compile one representative WIDE conditional aggregate before the
    # timed loop: the alphabetically first benched query otherwise absorbs
    # the session's first whole-stage-codegen wave (Janino classloading +
    # JIT of the compiler itself) in its run 1. Generated classes are
    # plan-specific, so this warms the COMPILER, not any benched plan.
    w = spark.range(300_000).selectExpr(
        "id", "id % 97 AS k", "CAST(id % 7 AS STRING) AS e"
    )
    (
        w.groupBy("k")
        .agg(
            *[
                F.sum(F.when(F.col("e") == str(i), F.col("id")).otherwise(F.lit(0))).alias(f"c{i}")
                for i in range(7)
            ],
            F.count("*").alias("n"),
            F.avg("id").alias("a"),
        )
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # warm the persisted serving-state families (the benched incremental
    # arms measure STEADY-STATE serving; a cache-cold checkout would
    # otherwise fold the one-time index build into run 1's wall AND into
    # the max_task stage window, poisoning the cross-round regression
    # guard)
    from d3d_etl_spark.queries.simsearch import ivf_index_state, pq_index_state

    ivf_index_state(spark, sf_dir)
    pq_index_state(spark, sf_dir)

    timings: dict[str, float] = {}
    samples: dict[str, dict] = {}
    # Three timed executions per query, report the min: run 1 carries
    # plan-analysis + Janino codegen (one-time per plan shape, dominated by
    # the wide domain cascades — measured ~8s JVM-wide), run 2 is the
    # steady-state throughput a long-running cluster sees. Min-of-3 also
    # damps host noisy-neighbor variance (observed 30-40% machine-wide
    # swings between runs with identical code); the raw runs are published
    # in `samples` so regressions can be told from noise after the fact.
    for name, q in bench_queries.items():
        before = tm.completed_stages(ui_port, app) if app else {}
        h0 = procstat.host_times()
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        host = procstat.host_delta(h0, procstat.host_times())
        key = aliases.get(name, name)
        timings[key] = min(runs)
        samples[key] = {
            "min": min(runs), "median": sorted(runs)[1], "runs": runs, "host": host,
        }
        if app:  # REST reads sit OUTSIDE the timed sections
            after = tm.completed_stages(ui_port, app)
            new = {k: v for k, v in after.items() if k not in before}
            mx = tm.task_maxima(ui_port, app, new)
            samples[key]["max_task"] = {
                "input_mb": round(mx["input_bytes"] / 2**20, 1),
                "shuffle_read_mb": round(mx["shuffle_read_bytes"] / 2**20, 1),
                "peak_exec_mem_mb": round(mx["peak_exec_mem"] / 2**20, 1),
                "top_mem_stage": (mx["top_mem_stages"] or [{}])[0],
            }

    total = round(sum(timings.values()), 3)
    run = {
        "sf": sf,
        "cpus": n_workers,
        "heap": spark.conf.get("spark.driver.memory", None),
    }
    prev = _committed_bench()
    regressions, acknowledged = _task_mem_regressions(samples, run, prev)
    payload = {
        "metric": (
            f"e2e wall-clock, {len(timings)} headline queries "
            "(joins/aggs/windows/dedup/simsearch/text), noop sink, "
            "steady-state (min of 3 runs per query)"
        ),
        "value": total,  # compare raw min-vs-min per query
        "unit": "sec",
        "queries": timings,
        **run,
        # host-load telemetry over the whole session: steal/iowait >> 0 or
        # load1 >> cpus means wall deltas deserve no adjudication weight
        "host": procstat.host_delta(host0, procstat.host_times()),
        "samples_file": "BENCH.json",
    }
    skipped = _task_mem_skip(run, prev)
    if skipped:  # never skip the guard silently
        payload["task_mem_guard_skipped"] = skipped
    if regressions:  # keep the printed line compact when clean
        payload["task_mem_regressions"] = regressions
    if acknowledged:
        payload["task_mem_acknowledged"] = acknowledged
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json")
    with open(sidecar, "w") as f:
        json.dump(
            {**payload,
             "spark_version": spark.version,
             "python_version": platform.python_version(),
             "task_mem_regressions": regressions,
             "task_mem_acknowledged": acknowledged, "samples": samples},
            f,
            indent=1,
        )
        f.write("\n")
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
