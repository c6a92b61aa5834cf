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
    # NULL sims last (sim_desc_key min_by keys / desc NULLS LAST),
    # so a zero-norm vector loses every comparison instead of crashing
    # or winning.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def sim_desc_key(sim: Column) -> Column:
    """Ascending key that orders a rounded sim as `ORDER BY sim DESC`
    does in Spark windows and in DuckDB, for min_by argmax aggregates.

    - `+ 0.0` turns the negated -0.0 into +0.0: struct ordering is
      Double.compare, which splits the zeros, while both engines' ORDER BY
      treats them as equal; a -0.0/+0.0 tie must fall to the id tie-break.
    - NaN keys -inf, so it wins: struct ordering puts NaN after +inf, but
      desc(sim) and DuckDB's ORDER BY sim DESC put NaN first.
    - NULL keys +inf, so it loses (NULLS LAST): struct ordering would put
      a NULL key first, and a zero-norm centroid would capture every
      vector."""
    return F.coalesce(
        F.nanvl(-sim + F.lit(0.0), F.lit(float("-inf"))), F.lit(float("inf"))
    )
