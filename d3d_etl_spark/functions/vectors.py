"""Vector math over array<float> embedding columns — pure Catalyst
higher-order functions (zip_with / aggregate), no Python in the hot path.

Used by the similarity-search operators. Computation is done in double;
per-vector reductions are ~64-term folds, so cross-engine float divergence is
< 1e-13 — published similarity values are rounded to 6 dp to make hashes
stable (d3d_etl_spark.operators.similarity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide, not `/`: under Spark 4's default ANSI mode a zero-norm
    # vector would otherwise THROW (DIVIDE_BY_ZERO) and kill the whole
    # job on one degenerate row; try_divide yields NULL — exactly what
    # DuckDB's `/` gives the oracles — and every ranking site orders
    # NULL sims last (coalesce-to-+inf min_by keys / desc NULLS LAST),
    # so a zero-norm vector loses every comparison instead of crashing
    # or winning.
    return F.try_divide(dot(a, b), norm(a) * norm(b))
