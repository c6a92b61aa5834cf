"""Fixed Column trees, built once per live JVM gateway.

Every `F.*` call and Column method is a synchronous Python -> JVM call
(several per tree node; about ten with PySpark's call-site capture, which
`session.get_spark` turns off). A tree that depends only on column names,
literals and window specs is the same tree on every call, so it is built
once and handed to every later plan.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F


def per_gateway(build):
    """Memoize a Column-tree builder per live JVM gateway.

    The rule, stated once:

    - it may hold unresolved trees built from column names (`F.col`),
      literals and window specs, in any container of them;
    - it must never hold a DataFrame-bound Column (`df["x"]`), a
      DataFrame or data: those belong to one plan, and a cached copy
      would resolve against the wrong one;
    - the key is the builder's positional arguments, so every argument
      that shapes the tree (a threshold, a literal, whether an input
      column exists) must be one of them, and each must be hashable;
    - a new gateway (a new JVM) drops every entry and rebuilds;
    - callers never mutate what it returns;
    - no lock: two threads that race build equal trees, and either may
      win.

    Each plan that uses a cached tree still analyzes, optimizes and runs
    on its own; only the Python -> JVM construction is shared.
    """
    memo: dict = {}
    live: list = [None]

    @functools.wraps(build)
    def cached(*key):
        gateway = SparkContext._gateway
        if live[0] is not gateway:
            memo.clear()
            live[0] = gateway
        trees = memo.get(key)
        if trees is None:
            trees = memo[key] = build(*key)
        return trees

    return cached


@per_gateway
def cols(*names: str) -> tuple[Column, ...]:
    """One `F.col` per name: a select, groupBy or sort list whose names
    need no JVM call each to become Columns."""
    return tuple(F.col(n) for n in names)
