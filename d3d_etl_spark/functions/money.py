"""Exact-money arithmetic.

Engine-correctness rule: **never SUM raw doubles** in a published metric.
Floating-point accumulation is order-dependent, so the same query on two
engines (or two shuffle layouts of the same engine) can differ in the last
ulps — enough to break a value-hash comparison and to make results
non-deterministic across reruns at scale. All monetary/2-decimal columns are
summed as exact integer cents (BIGINT) and converted to double once, at the
end. Integer aggregation is associative, so the result is identical for any
partitioning — a property worth keeping at 100 TB, not just for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """2-decimal double -> exact integer cents (long)."""
    return F.round(col * 100).cast("long")


def sum_cents(col: Column) -> Column:
    """Exact sum of a 2-decimal column, returned in cents (long)."""
    return F.sum(cents(col))


def dollars(cents_col: Column) -> Column:
    """Back to double units; single deterministic conversion."""
    return cents_col.cast("double") / 100.0


def sum_money(col: Column) -> Column:
    """Exact sum of a 2-decimal column as double units."""
    return dollars(sum_cents(col))


# --- SQL-side mirrors (DuckDB dialect) -------------------------------------
# Kept beside the Spark builders so the two dialects stay in lock-step.

def sql_cents(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


def sql_sum_money(expr: str) -> str:
    return f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100.0"


def sql_avg_money(expr: str) -> str:
    return f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / COUNT({expr}) / 100.0"
