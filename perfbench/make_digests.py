#!/usr/bin/env python3
"""Regenerate expected_digests.json: run every query of the two query
workloads on the benchmark's star schema at each scale the benchmark uses,
verify each result against its DuckDB oracle with
d3d_etl_spark.oracle.compare_frames, and record the verified digest.

    python3 perfbench/make_digests.py

Run from the root of a checkout. Writes nothing unless every query matches
its oracle.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(run.ROOT)
    from d3d_etl_spark import queries as qmod
    from d3d_etl_spark.oracle import compare_frames, run_oracle
    from d3d_etl_spark.queries.registry import REGISTRY
    from d3d_etl_spark.session import get_spark

    qmod.load_all()
    spark = get_spark(
        app_name="perfbench-digests", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out, bad = {}, []
    try:
        for key in (run.SF, run.TOY_SF):
            sf_dir = run.data_dir(key)
            run.datagen.ensure_star(sf_dir, float(key))
            out[key] = {}
            for name in run.REGISTRY_MIX:
                q = REGISTRY[name]
                pdf = q.fn(spark, sf_dir).toPandas()
                problems = compare_frames(pdf, run_oracle(q.oracle, sf_dir))
                print(f"sf{key} {name}: rows={len(pdf)} "
                      f"{'MATCH' if not problems else problems}", flush=True)
                if problems or not len(pdf):
                    bad.append(f"sf{key} {name}")
                out[key][name] = run.digest(pdf)
    finally:
        spark.stop()
    if bad:
        print(f"not written: {bad} failed the oracle or returned no rows", file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
