"""Local oracle harness — mirrors the driver's DuckDB comparison.

For each registered query: run the Spark plan and the oracle SQL on the same
parquet tables, sort columns by name, sort rows, and compare values. Floats
compare exactly by default (the engine's determinism contract: exact integer
aggregation + mirrored double expression trees) with a tiny fallback
tolerance to flag—not hide—divergence.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from d3d_etl_spark.io import STATE_FAMILIES, TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def resolve_cache_globs(sql: str, sf_dir: str) -> str:
    """Rewrite every state family's '<name>_*' glob in `sql` to the
    scale-keyed directory for `sf_dir` (io.StateFamily), so each oracle
    reads exactly one scale while scales coexist on disk. Idempotent on
    SQL with no family globs."""
    for name, fam in STATE_FAMILIES.items():
        sql = sql.replace(f"{name}_*", f"{name}_{fam.key(sf_dir)}")
    return sql


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    sql = resolve_cache_globs(sql, sf_dir)
    con = duckdb_connection(sf_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name sort + row sort, types normalized for comparison."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif s.dtype == object:
            s = s.astype(str)
        out[c] = s
    df = pd.DataFrame(out)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}")
        return problems
    if len(a) != len(b):
        problems.append(f"row counts differ: spark={len(a)} oracle={len(b)}")
        return problems
    for c in a.columns:
        sa, sb = a[c], b[c]
        if pd.api.types.is_float_dtype(sa) and pd.api.types.is_float_dtype(sb):
            va, vb = sa.to_numpy(), sb.to_numpy()
            both_nan = np.isnan(va) & np.isnan(vb)
            exact = (va == vb) | both_nan
            if not exact.all():
                close = np.isclose(va, vb, rtol=1e-9, atol=1e-12) | both_nan
                n_exact = int((~exact).sum())
                if close.all():
                    problems.append(
                        f"column {c}: {n_exact} values not bit-exact (within 1e-9 — "
                        f"WOULD FAIL a value-hash; fix the expression mirroring)"
                    )
                else:
                    idx = int(np.argmax(~close))
                    problems.append(
                        f"column {c}: value mismatch at row {idx}: "
                        f"spark={va[idx]!r} oracle={vb[idx]!r}"
                    )
        else:
            eq = (sa == sb) | (sa.isna() & sb.isna())
            if not eq.all():
                idx = int(np.argmax(~eq.to_numpy()))
                problems.append(
                    f"column {c}: mismatch at row {idx}: spark={sa.iloc[idx]!r} oracle={sb.iloc[idx]!r}"
                )
    return problems
