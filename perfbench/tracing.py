"""Per-layer Spark metrics of a traced run, read from the Spark UI's REST API
(through d3d_etl_spark.plans.taskmetrics) after the timed region.

Every timed operation ran under its own job group ``op<i>``, so each job is
attributed to the operation that caused it. From the jobs and their stages
this derives counts (jobs, stages, tasks, localCheckpoint barrier jobs,
parquet schema-inference jobs), time the engine was busy (union of job
intervals) and the driver gap (operation wall minus busy time), and the
executor-side sums (run, CPU and GC time, shuffle and spill volumes).
"""

from __future__ import annotations

import statistics
from datetime import datetime, timezone

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_rss_peak_mb": "MiB",
    "trace.run_wall_s": "s",
    "ops_failed_frac": "frac",
    "host.steal_s": "s",
    "host.iowait_s": "s",
    "host.load1": "load",
    "pbp.parse_s": "s",
    "pbp.metrics_s": "s",
    "pbp.board_build_s": "s",
    "pbp.plays_parsed": "count",
    "io.sink_write_s": "s",
    "io.sink_bytes_written": "bytes",
    "io.sink_files_written": "count",
    "io.read_schema_jobs": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.barrier_jobs": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MiB",
    "spark.failed_tasks": "count",
    "spark.task_peak_mem_mb": "MiB",
}


def query_units(names) -> dict[str, str]:
    """Per-query layer metrics: latency, jobs and localCheckpoint barrier
    jobs per call, and the driver gap of one call with its share of the
    call's wall."""
    out = {}
    for q in names:
        out[f"query.{q}.p50_s"] = "s"
        out[f"query.{q}.jobs"] = "count"
        out[f"query.{q}.barrier_jobs"] = "count"
        out[f"query.{q}.driver_gap_s"] = "s"
        out[f"query.{q}.driver_gap_share"] = "frac"
    return out


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _busy(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def spark_layers(sc, names, windows, queries) -> dict[str, float]:
    from d3d_etl_spark.plans import taskmetrics as tm

    port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    app = sc.applicationId
    jobs = tm.rest_get(port, f"applications/{app}/jobs", timeout=60)
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in tm.rest_get(port, f"applications/{app}/stages", timeout=60)
    }
    by_stage: dict[int, list[dict]] = {}
    for s in stages.values():
        by_stage.setdefault(s["stageId"], []).append(s)

    per_op: list[list[dict]] = [[] for _ in names]
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith("op") and g[2:].isdigit() and int(g[2:]) < len(names):
            per_op[int(g[2:])].append(j)

    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.barrier_jobs",
        "spark.job_busy_s", "spark.driver_gap_s", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
        "spark.shuffle_fetch_wait_s", "spark.spill_mb", "spark.failed_tasks",
        "io.read_schema_jobs",
    )}
    op_jobs, op_barriers, op_gap = [], [], []
    timed_stages: list[dict] = []
    for i, js in enumerate(per_op):
        w0, w1 = windows[i]
        spans = []
        barriers = 0
        for j in js:
            s, e = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if s is not None and e is not None:
                spans.append((max(s, w0), min(e, w1)))
            if j["name"].startswith("localCheckpoint at"):
                barriers += 1
            run = [a for sid in j["stageIds"] for a in by_stage.get(sid, ())
                   if a["status"] in ("COMPLETE", "FAILED")]
            timed_stages += run
            if j["name"].startswith("parquet at") and any(
                "DataFrameReader.parquet" in a.get("details", "") for a in run
            ):
                out["io.read_schema_jobs"] += 1
        busy = _busy([(s, e) for s, e in spans if e > s])
        op_jobs.append(len(js))
        op_barriers.append(barriers)
        op_gap.append(((w1 - w0) - busy, w1 - w0))
        out["spark.jobs"] += len(js)
        out["spark.barrier_jobs"] += barriers
        out["spark.job_busy_s"] += busy
        out["spark.driver_gap_s"] += (w1 - w0) - busy
    seen = set()
    peak_stages = []
    for a in timed_stages:
        key = (a["stageId"], a["attemptId"])
        if key in seen:
            continue
        seen.add(key)
        out["spark.stages"] += 1
        out["spark.tasks"] += a["numTasks"]
        out["spark.failed_tasks"] += a["numFailedTasks"]
        out["spark.executor_run_s"] += a["executorRunTime"] / 1e3
        out["spark.executor_cpu_s"] += a["executorCpuTime"] / 1e9
        out["spark.gc_s"] += a["jvmGcTime"] / 1e3
        out["spark.shuffle_write_mb"] += a["shuffleWriteBytes"] / 2**20
        out["spark.shuffle_fetch_wait_s"] += a["shuffleFetchWaitTime"] / 1e3
        out["spark.spill_mb"] += (a["memoryBytesSpilled"] + a["diskBytesSpilled"]) / 2**20
        peak_stages.append((a["peakExecutionMemory"], key))
    # per-task maximum over the stages with the most execution memory
    top = [key for _, key in sorted(peak_stages, reverse=True)[:5]]
    out["spark.task_peak_mem_mb"] = tm.task_maxima(
        port, app, {k: stages[k] for k in top}
    )["peak_exec_mem"] / 2**20

    def med(vals):
        return statistics.median(vals) if vals else 0

    for q in queries:
        idx = [i for i, n in enumerate(names) if n == q]
        out[f"query.{q}.jobs"] = med([op_jobs[i] for i in idx])
        out[f"query.{q}.barrier_jobs"] = med([op_barriers[i] for i in idx])
        gap, wall = med([op_gap[i][0] for i in idx]), med([op_gap[i][1] for i in idx])
        out[f"query.{q}.driver_gap_s"] = gap
        out[f"query.{q}.driver_gap_share"] = gap / wall if wall else 0
    return out
