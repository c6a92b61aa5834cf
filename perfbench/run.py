#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload pbp_season --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. Each run starts a fresh Spark session at
local[<cores this process may use>], makes its inputs under
perfbench/.work/, runs a fixed warm-up (repeated, and left out of setup_s,
when it had to build persisted per-scale state), then times a fixed
sequence of operations driven by one
client in a closed loop (the next operation starts when the previous one
returns). Outputs are checked against expected digests outside the timed
region; a wrong answer counts as a failed operation.

The last line of stdout is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end ones (see METRICS_E2E); with
--trace 1 the run turns the Spark UI on, tags every operation's jobs with a
job group and reports the per-layer metrics read back from the UI's REST API
after the timed region. The line before it is the run's host telemetry
(steal, iowait, user and sys seconds over the timed region, load average)
and the tail percentile used. The full record, spans included, is written to
perfbench/.work/records/.

--toy shrinks every workload (sf0.001, 2 pbp slices, one pass) for the
smoke test.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import procstat  # noqa: E402

# registry_mix traffic, one pass: the cheap relational and event queries are
# the common case, REGISTRY_FAST_WEIGHT calls each (q1: scan + aggregate over
# lineitem; q3: customer/orders/lineitem join, aggregate and top-k;
# z_join_asof: as-of join; sessionize_events: window over the events
# stream). The heavy layered queries come once per pass: text shingling and
# dedup (dedup_jaccard_pairs) and the embedding pipeline of the ANN serving
# family (z_sim_pipeline: SemDeDup clustering behind a localCheckpoint
# barrier, GEMM near-pair search, PQ codebooks and codes over the
# survivors). With fewer than ten
# heavy calls, the tail percentile (ten operations above it) and the median
# both fall among the cheap calls, away from the edge between the two
# groups. Every query reads its tables through the io read path.
REGISTRY_FAST = ("q1_pricing_summary", "q3_top_orders", "z_join_asof", "sessionize_events")
REGISTRY_HEAVY = ("dedup_jaccard_pairs", "z_sim_pipeline")
REGISTRY_FAST_WEIGHT = 6
# Fixed warm-up beyond the one call per query: the JIT keeps warming for
# several operations, and a cheap call's latency fell by half over its
# first five calls. An extra round of the cheap queries takes the steepest
# part of that fall out of the timed region.
REGISTRY_WARM_ROUNDS = 1
REGISTRY_MIX = REGISTRY_FAST + REGISTRY_HEAVY
BOARDS = ("batting", "situational")
# Scale factors as spelled in the data directory name. The engine keys the
# persisted per-scale state it builds (.domain_cache families) by that
# spelling, so the trailing zero keeps any such state apart from that of
# other tables at the same scale.
SF = "0.0100"
TOY_SF = "0.0010"
# pbp_season: the reference's daily batch refreshes 6 years x 3 divisions,
# one (division, year) slice at a time. A slice holds 20 games. A run loads
# PBP_SLICES slices of the seeded season order as one batch, makes
# PBP_WARM_REFRESHES single-slice refreshes (the warm-up), then times whole
# passes of single-slice refreshes over the slices. A refresh barely
# depends on the slice size, because the per-job overhead of the parse,
# metrics and two board upserts dominates. The session's first publish,
# cold, takes ~18 s whether it holds one slice or three. The first
# single-slice refresh after it ran 1.4x the next ones; after that,
# refreshes kept getting faster for another 7-12 refreshes as the JIT
# warmed (~3.5 s down to ~2.9 s, at 4 cores with little steal). A warm-up
# that long does not fit a run of about a minute, so the timed refreshes
# sit on the tail of that curve, at the same place in every run.
GAMES_PER_SLICE = 20
PBP_SLICES = 3
PBP_WARM_REFRESHES = 1

# --seconds sets the size of the timed sequence, which is then FIXED work:
# the number of slice refreshes, or of passes over the registry_mix traffic,
# is --seconds divided by these nominal durations (measured at 4 cores when
# the benchmark was defined). A faster engine finishes the same work sooner.
NOMINAL_S = {"pbp_season": 3.5, "registry_mix": 18.0}

METRICS_E2E = {
    "setup_s": "s",
    "run_wall_s": "s",
    "cpu_s": "s",
    "op_latency_p50_s": "s",
    "op_latency_tail_s": "s",
    "ops_ok_frac": "frac",
}


class Clock:
    """Spans kept in memory (name, start, end, op) plus the untimed
    intervals that setup_s excludes (input generation, a warm-up that
    built persisted state, and correctness checks)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self.untimed = 0.0
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t, time.perf_counter(), self.op))

    @contextlib.contextmanager
    def excluded(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed += time.perf_counter() - t

    def total(self, name: str) -> float:
        """Seconds spent in spans called `name` during timed operations."""
        return sum(e - s for n, s, e, op in self.spans if n == name and op >= 0)


def digest(pdf) -> dict:
    """Row count plus an order-insensitive hash of the canonical frame
    (columns sorted, types normalized as the oracle comparison does)."""
    import numpy as np
    import pandas as pd

    from d3d_etl_spark.oracle import canonicalize

    c = canonicalize(pdf)
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(np.uint64).sum(dtype=np.uint64)
    return {"rows": len(c), "columns": list(c.columns), "hash": f"{int(h):016x}"}


def data_dir(sf_key: str) -> str:
    """The star schema's directory, relative to the checkout root."""
    return os.path.relpath(os.path.join(WORK, f"sf{sf_key}"), ROOT)


def cache_families() -> set[str]:
    from d3d_etl_spark.queries.domain import _CACHE_DIR

    if not os.path.isdir(_CACHE_DIR):
        return set()
    return {d for d in os.listdir(_CACHE_DIR) if os.path.isdir(os.path.join(_CACHE_DIR, d))}


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples above it, never below
    the median (a run with fewer than twenty operations reports its p50)."""
    return max(50.0, 100.0 * (n - 10) / n)


def percentile(vals: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    s = sorted(vals)
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class QueryWorkload:
    """registry_mix: each operation is one registry query, `q.fn(spark, sf)`,
    whose result is collected to the driver (a client reading its answer).
    The warm-up is one call per query, then REGISTRY_WARM_ROUNDS rounds of
    the cheap ones. After the timed region every collected result is
    checked, untimed, against expected_digests.json."""

    def __init__(self, sf_dir, sf_key, seed, passes, clock):
        import random

        from d3d_etl_spark import queries as qmod
        from d3d_etl_spark.queries.registry import REGISTRY

        qmod.load_all()
        self.queries = {n: REGISTRY[n] for n in REGISTRY_MIX}
        self.sf_dir, self.clock = sf_dir, clock
        with open(os.path.join(HERE, "expected_digests.json")) as f:
            self.expected = json.load(f)[sf_key]
        # A pass is REGISTRY_FAST_WEIGHT rounds, each a seeded permutation of
        # the cheap queries; each heavy query joins a seeded round at a
        # seeded place. Every query is spread over the whole pass, so the
        # JIT's warming during a run falls alike on every query for any seed.
        rng = random.Random(seed)
        self.order = []
        for _ in range(passes):
            rounds = [rng.sample(REGISTRY_FAST, len(REGISTRY_FAST))
                      for _ in range(REGISTRY_FAST_WEIGHT)]
            for name in REGISTRY_HEAVY:
                r = rounds[rng.randrange(len(rounds))]
                r.insert(rng.randrange(len(r) + 1), name)
            self.order += [name for r in rounds for name in r]
        self.results: dict[int, object] = {}

    def warmup(self, spark) -> None:
        names = list(self.queries) + list(REGISTRY_FAST) * REGISTRY_WARM_ROUNDS
        for name in names:
            with self.clock.span(f"warmup.{name}"):
                self.queries[name].fn(spark, self.sf_dir).toPandas()

    def op_names(self) -> list[str]:
        return self.order

    def run_op(self, spark, i: int) -> bool:
        q = self.queries[self.order[i]]
        with self.clock.span("queries.build"):
            df = q.fn(spark, self.sf_dir)
        with self.clock.span("queries.exec"):
            self.results[i] = df.toPandas()
        return True

    def check(self, spark, ok: list[bool]) -> list[bool]:
        for i, pdf in self.results.items():
            if digest(pdf) != self.expected.get(self.order[i]):
                ok[i] = False
        self.results = {}
        return ok

    def layer_counts(self) -> dict:
        return {}


class SeasonWorkload:
    """pbp_season: each operation refreshes one (division, year) slice the
    way the reference's daily batch does: parse the slice's narration
    (pbp.pipeline.run_analytics), add run-expectancy metrics, build the
    boards and upsert each into a parquet sink partitioned by (division,
    year). The warm-up is the initial load: every slice of the run at
    once, as one batch, through the same publish path (the partitions it
    writes are the expected content), then `warm_refreshes` single-slice
    refreshes. The timed operations are `passes` passes of single-slice
    refreshes over the same slices. After the timed region the sink is read
    back and every partition must hold exactly its slice's rows, as the
    batch wrote them."""

    def __init__(self, run_dir, seed, n_slices, warm_refreshes, passes, clock):
        import pandas as pd

        self.clock = clock
        self.slices = datagen.season_slices(seed, n_slices)
        self.warm_refreshes = warm_refreshes
        with clock.excluded():
            self.paths = datagen.write_season(
                os.path.join(run_dir, "narration"), seed, self.slices, GAMES_PER_SLICE
            )
            self.plays = {s: len(pd.read_parquet(p, columns=["year"])) for s, p in self.paths.items()}
        self.sink = os.path.join(run_dir, "sink")
        self.order = self.slices * passes
        self.expected: dict[str, dict] = {}
        self.t_timed = 0.0

    def _publish(self, spark, paths) -> None:
        from d3d_etl_spark.io import read_parquet, upsert_partition
        from d3d_etl_spark.pbp.pipeline import run_analytics

        raw = None
        for p in paths:
            part = read_parquet(spark, p)
            raw = part if raw is None else raw.unionByName(part)
        with self.clock.span("pbp.parse"):
            out = run_analytics(raw)
        with self.clock.span("pbp.metrics"):
            out.with_metrics
        for name in BOARDS:
            with self.clock.span("pbp.board_build"):
                board = getattr(out, name)
            with self.clock.span("io.sink_write"):
                upsert_partition(board, os.path.join(self.sink, name), ("division", "year"))

    def _read_back(self, spark) -> dict:
        return {
            name: {
                (d, int(y)): digest(g)
                for (d, y), g in spark.read.parquet(os.path.join(self.sink, name))
                .toPandas().groupby(["division", "year"])
            }
            for name in BOARDS
        }

    def warmup(self, spark) -> None:
        self._publish(spark, self.paths.values())
        with self.clock.excluded():
            self.expected = self._read_back(spark)
        for i in range(self.warm_refreshes):
            self._publish(spark, [self.paths[self.slices[i % len(self.slices)]]])
        self.t_timed = time.time()

    def op_names(self) -> list[str]:
        return [f"{d}_{y}" for d, y in self.order]

    def run_op(self, spark, i: int) -> bool:
        self._publish(spark, [self.paths[self.order[i]]])
        return True

    def check(self, spark, ok: list[bool]) -> list[bool]:
        got = self._read_back(spark)
        for name in BOARDS:
            for s in set(got[name]) | set(self.expected[name]):
                if got[name].get(s) == self.expected[name].get(s):
                    continue
                writers = [i for i, o in enumerate(self.order) if o == s]
                # a partition no refresh touched was damaged: every op is suspect
                for i in writers or range(len(ok)):
                    ok[i] = False
        return ok

    def layer_counts(self) -> dict:
        files, size = 0, 0
        for dirpath, _, names in os.walk(self.sink):
            for n in names:
                path = os.path.join(dirpath, n)
                if n.endswith(".parquet") and os.path.getmtime(path) >= self.t_timed:
                    files += 1
                    size += os.path.getsize(path)
        return {
            "pbp.plays_parsed": sum(self.plays[s] for s in self.order),
            "io.sink_files_written": files,
            "io.sink_bytes_written": size,
        }


def layer_units() -> dict[str, str]:
    import tracing

    return {
        **tracing.UNITS,
        **tracing.query_units(REGISTRY_MIX),
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(NOMINAL_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="sf0.001, 2 slices, one pass")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every scratch file (Spark's local dirs, the JVM's and Python's temp
    # files) stays inside the checkout
    local = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = local
    tempfile.tempdir = None

    from d3d_etl_spark.session import get_spark

    clock = Clock()
    sf_key = TOY_SF if args.toy else SF
    sf_dir = data_dir(sf_key)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    with clock.excluded():
        datagen.ensure_star(os.path.join(ROOT, sf_dir), float(sf_key))
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)

    if args.workload == "pbp_season":
        if args.toy:
            n_slices, warm, passes = 2, 0, 1
        else:
            n_slices, warm = PBP_SLICES, PBP_WARM_REFRESHES
            passes = max(1, round(args.seconds / (NOMINAL_S["pbp_season"] * n_slices)))
        wl = SeasonWorkload(run_dir, args.seed, n_slices, warm, passes, clock)
    else:
        passes = 1 if args.toy else max(1, round(args.seconds / NOMINAL_S["registry_mix"]))
        wl = QueryWorkload(sf_dir, sf_key, args.seed, passes, clock)

    conf = {
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    if args.trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    os.chdir(ROOT)
    t_start = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    try:
        return _run(args, spark, wl, clock, t_start, t_session, run_dir)
    finally:
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker it forked have exited."""
    from pyspark import SparkContext

    children = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_ended(children, timeout=30)


def _run(args, spark, wl, clock, t_start, t_session, run_dir) -> int:
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    # Persisted per-scale state (.domain_cache families) is built by the
    # first call that needs it. A warm-up that creates a family directory
    # was that build: its time leaves setup_s and the warm-up runs again, so
    # the timed warm-up always runs over existing state.
    for _ in range(2):
        families, untimed = cache_families(), clock.untimed
        t_warm = time.perf_counter()
        wl.warmup(spark)
        t_warm_end = time.perf_counter()
        if cache_families() <= families:
            break
        clock.untimed = untimed + t_warm_end - t_warm
    else:
        print("the warm-up built persisted state twice", file=sys.stderr)
        return 3
    families = cache_families()

    sc = spark.sparkContext
    names = wl.op_names()
    ok: list[bool] = []
    lat: list[float] = []
    windows: list[tuple[float, float]] = []
    steal: list[float] = []
    errors: list[str] = []
    cpu0, host0 = procstat.tree_cpu_s(os.getpid()), procstat.host_times()
    t0 = time.perf_counter()
    setup_s = t0 - T_PROCESS - clock.untimed
    for i, name in enumerate(names):
        sc.setJobGroup(f"op{i}", name)
        clock.op = i
        h0 = procstat.host_times()
        w0, a = time.time(), time.perf_counter()
        try:
            good = wl.run_op(spark, i)
        except Exception as e:  # a failed operation is counted, not fatal
            good = False
            errors.append(f"op{i} {name}: {type(e).__name__}: {str(e)[:300]}")
        lat.append(time.perf_counter() - a)
        windows.append((w0, time.time()))
        steal.append(procstat.host_times()["steal"] - h0["steal"])
        ok.append(good)
    run_wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s(os.getpid()) - cpu0
    host = procstat.host_delta(host0, procstat.host_times())
    clock.op = -1
    sc.setJobGroup("post", "post")

    new_families = cache_families() - families
    if new_families:
        print(f"timed region built persisted state: {sorted(new_families)}", file=sys.stderr)
        return 3
    ok = wl.check(spark, ok)
    failed = ok.count(False)
    n = len(lat)
    tail_p = tail_percentile(n)
    metrics = {
        "setup_s": setup_s,
        "run_wall_s": run_wall,
        "cpu_s": cpu,
        "op_latency_p50_s": percentile(lat, 50),
        "op_latency_tail_s": percentile(lat, tail_p),
        "ops_ok_frac": (n - failed) / n,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "toy": args.toy, "cpus": len(os.sched_getaffinity(0)),
        "tail_percentile": tail_p, "n_ops": n, "host": host, "errors": errors,
        "ops": [{"name": nm, "s": round(t, 4), "steal_s": round(st, 2), "ok": g}
                for nm, t, st, g in zip(names, lat, steal, ok)],
        "metrics": metrics,
        "spans": [
            {"name": nm, "start": round(s - T_PROCESS, 4), "end": round(e - T_PROCESS, 4), "op": op}
            for nm, s, e, op in clock.spans
        ],
    }
    if args.trace:
        import tracing

        layers = {
            "session.start_s": t_session - t_start,
            "session.warmup_s": t_warm_end - t_warm - (clock.untimed - untimed),
            "session.jvm_rss_peak_mb": procstat.peak_rss_mb(jvm_pid),
            "trace.run_wall_s": run_wall,
            "ops_failed_frac": failed / n,
            "host.steal_s": host["steal"],
            "host.iowait_s": host["iowait"],
            "host.load1": host["load1"],
            "pbp.parse_s": clock.total("pbp.parse"),
            "pbp.metrics_s": clock.total("pbp.metrics"),
            "pbp.board_build_s": clock.total("pbp.board_build"),
            "io.sink_write_s": clock.total("io.sink_write"),
            "queries.build_s": clock.total("queries.build"),
            "queries.exec_s": clock.total("queries.exec"),
            **{k: 0 for k in ("pbp.plays_parsed", "io.sink_files_written", "io.sink_bytes_written")},
            **wl.layer_counts(),
        }
        for q in REGISTRY_MIX:
            mine = [t for nm, t in zip(names, lat) if nm == q]
            layers[f"query.{q}.p50_s"] = statistics.median(mine) if mine else 0
        layers.update(tracing.spark_layers(sc, names, windows, REGISTRY_MIX))
        record["layers"] = layers
        units = layer_units()
        out_metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        out_metrics = {k: {"value": v, "unit": METRICS_E2E[k]} for k, v in metrics.items()}

    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "telemetry": host, "tail_percentile": tail_p, "n_ops": n,
        "errors": errors[:5],
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": n, "failed": failed, "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
