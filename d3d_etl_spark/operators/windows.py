"""Ordered/window operator library (SURVEY.md §2.5 W1-W16).

The reference does all of these with pandas shift/cumsum/rolling/transform
inside a single process (citations per function); here each is a Spark window
spec over an explicit (partition, total order) so the same computation is
correct under any shuffle layout. Every helper takes explicit ordering
columns — Spark sorts are not stable, so callers must supply a total order
(SURVEY.md §4 stability caveat; the ingest layer persists a tiebreaker).
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def lag_over(col: Column, w: WindowSpec, n: int = 1, default=None) -> Column:
    """W1 — previous row's value within the group (pandas groupby.shift(n),
    reference pbp_parser/main.py:61-66)."""
    return F.lag(col, n, default).over(w)


def lead_over(col: Column, w: WindowSpec, n: int = 1, default=None) -> Column:
    """W2 — next row's value (reference batting.py:263-266 runner-destination
    inference via shift(-1))."""
    return F.lead(col, n, default).over(w)


def running_sum_before(col: Column, w: WindowSpec) -> Column:
    """W3 — cumulative sum of *prior* rows (reference columns.py:131-137
    outs_before = cumsum of lagged outs)."""
    return F.coalesce(
        F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )


def running_sum(col: Column, w: WindowSpec) -> Column:
    """Inclusive running sum."""
    return F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, 0))


def reverse_running_sum(col: Column, w: WindowSpec) -> Column:
    """W6 — sum from current row to end of group, inclusive (reference
    columns.py:219-232 runs_roi)."""
    return F.sum(col).over(w.rowsBetween(0, Window.unboundedFollowing))


def group_total(col: Column, partition: list[str | Column]) -> Column:
    """W5 — group total stamped on every row (reference columns.py:206-216
    runs_this_inn)."""
    return F.sum(col).over(Window.partitionBy(*partition))


def row_number_over(w: WindowSpec) -> Column:
    """W7/W8 — 1-based position in group (first/last flags, cumcount)."""
    return F.row_number().over(w)


def ffill(col: Column, w: WindowSpec) -> Column:
    """W9 — grouped forward fill (reference helpers.py:131-139 bat_order
    propagation): last non-null value at or before the current row."""
    return F.last(col, ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, 0))


def bfill(col: Column, w: WindowSpec) -> Column:
    """W9 — grouped backward fill: first non-null value at or after."""
    return F.first(col, ignorenulls=True).over(w.rowsBetween(0, Window.unboundedFollowing))


def rolling_sum_minp(col: Column, w: WindowSpec, n: int) -> tuple[Column, Column]:
    """W10 — (rolling sum over last n rows, row count in frame). pandas
    rolling(n) semantics (reference rolling.py:27): value is null until the
    frame holds n rows — callers gate on the count."""
    frame = w.rowsBetween(-(n - 1), 0)
    return F.sum(col).over(frame), F.count(col).over(frame)


def latest_per_key(w_desc: WindowSpec) -> Column:
    """W16 — newest row per key; caller filters on == 1
    (reference reconcile_players.py:476-478)."""
    return F.row_number().over(w_desc)


def zscore_stats(col_int: Column, partition: list[str | Column]) -> tuple[Column, Column, Column]:
    """W13 support — exact integer (Σx, Σx², n) over a group window.

    Reference sos_utils.py:83-89 uses pandas mean/std; computing the moments
    as exact integers makes the derived z-score identical under any row
    order/partitioning (and bit-identical to the SQL oracle).
    """
    w = Window.partitionBy(*partition)
    return (
        F.sum(col_int).over(w),
        F.sum(col_int * col_int).over(w),
        F.count(col_int).over(w),
    )


def zscore_from_stats(col_int: Column, s1: Column, s2: Column, n: Column) -> Column:
    """Sample z-score (ddof=1, pandas default) from exact moments.

    Expression shape is part of the determinism contract — the SQL oracle
    mirrors it verbatim:
        mean = s1/n;  var = (s2 - s1*s1/n)/(n-1);  z = (x - mean)/sqrt(var)
    The two degenerate-group divisions are try_divide (the zero-norm
    doctrine): a SINGLE-MEMBER group (n-1 = 0) or a CONSTANT
    group (var exactly 0 — the moments are exact integers) would throw
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode, killing the job —
    on such input pandas maps to NaN and the SQL oracle's plain `/` maps
    to NULL; try_divide yields that same NULL. n itself is >= 1 by
    construction (the group has a row), so mean and s1*s1/n keep `/`."""
    s1d, s2d, nd = s1.cast("double"), s2.cast("double"), n
    mean = s1d / nd
    var = F.try_divide(s2d - s1d * s1d / nd, nd - 1)
    return F.try_divide(col_int.cast("double") - mean, F.sqrt(var))
