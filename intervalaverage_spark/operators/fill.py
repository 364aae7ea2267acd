"""Gap-value fill over regular series: LOCF / NOCB / linear interpolation.

``finalize`` (operators/tiers.py) emits dense tier grids whose uncovered
windows carry NULL values (the reference's unmatched-y semantics,
src/code.cpp:32-50). A retention/rollup engine also needs the standard
fills on top of that grid:

* ``locf``  — last observation carried forward (per key, in order);
  optional ``limit`` bounds how far (in order-units) a value is carried.
* ``nocb``  — next observation carried backward (the mirror).
* ``interpolate_linear`` — interior NULLs get the straight line between
  the surrounding observations; leading/trailing NULLs stay NULL.

All three are single-window codegen expressions
(``last(v, ignorenulls=True)`` over the key partition) — ONE exchange on
the group key, no join, no UDF. At 10^12 rows the window partitions by
the same (url-hash) key the tier tables are already laid out on, so with
a bucketed/partitioned layout the exchange disappears entirely.

Skew (``bucket_width``): the windows run per (key, time bucket) through
:func:`~intervalaverage_spark.plans.slices.time_sliced`, whose carry
holds, per (key, bucket), the last (locf) / first (nocb) / both
(interpolate) non-null observation of each value, scanned over the
key's earlier / later buckets. Identical results to the flat path,
NULL keys included (property-tested, tests/test_property_hypothesis.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.plans.slices import time_sliced
from intervalaverage_spark.validation import Entry, _q, enter_points

#: per scan direction: window order, the bucket's pick, and the carry scan
_DIRS = {"prev": ("", "max_by", "back"), "next": (" DESC", "min_by", "fwd")}


def _order_distance(e: Entry, bucketed: bool, double: bool = False) -> str:
    """SQL of the order used for ``limit`` distances and carried times.
    Numeric order columns keep their NATIVE type on the flat path (a long
    cast would silently truncate a double order column, changing limit
    semantics); timestamp columns are cast to long (epoch seconds) because
    their native difference is an interval that cannot be compared to the
    integer ``limit``. Date columns go through ``unix_date`` (epoch DAYS):
    Spark 3+/4 forbids a date→numeric cast outright, and the day unit is
    what a daily-grid ``limit`` means. The bucketed path always long-izes
    the order: its carry times are long. ``double`` casts the native
    order (days for a date) to DOUBLE — interpolation weights."""
    if e.is_date:
        o = "unix_date(__xt0)"
    elif double or not (bucketed or e.types["__xt0"].startswith("timestamp")):
        o = "__xt0"
    else:
        o = "CAST(__xt0 AS BIGINT)"
    return f"CAST({o} AS DOUBLE)" if double else o


def _fill(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str],
    out_suffix: str,
    bucket_width: int | None,
    dirs: Sequence[str],
    emit: Callable[[str, dict[str, tuple[str, str]], str], str],
    double: bool = False,
) -> DataFrame:
    """``df`` plus ``<v><out_suffix>`` = ``emit(v, seen, t)`` per value
    column, where ``t`` is the row's order (:func:`_order_distance`, as a
    DOUBLE if ``double``) and ``seen[d]`` the SQL (value, ``t``) of the
    nearest non-NULL observation in direction ``d`` of ``dirs`` ("prev":
    at or before the row, "next": at or after it) — one window per
    direction, the carry from other buckets filling in when
    ``bucket_width`` slices them."""
    value_cols = list(value_cols)
    e = enter_points(df, order_col, value_cols, group_vars,
                     out=[f"{v}{out_suffix}" for v in value_cols], keep=True)
    t = _order_distance(e, bucket_width is not None, double)
    vs = e.cols("xv")

    def window(p: str) -> dict[str, str]:
        out = {}
        for d in dirs:
            w = f"OVER ({p} ORDER BY __xt0{_DIRS[d][0]} ROWS UNBOUNDED PRECEDING)"
            for i, v in enumerate(vs):
                out[f"__{d}v{i}"] = f"last({v}, true) {w}"
                out[f"__{d}t{i}"] = f"last(CASE WHEN {v} IS NOT NULL THEN {t} END, true) {w}"
        return out

    def carry(side: str) -> Callable[[str], dict[str, str]]:
        return lambda w: {f"__{d}c{i}": f"last(__{d}b{i}, true) {w}"
                          for d in dirs if _DIRS[d][2] == side for i in range(len(vs))}

    s = time_sliced(
        e.x, e.cols("xg"), _order_distance(e, True), bucket_width, window,
        summary={f"__{d}b{i}": f"{_DIRS[d][1]}(named_struct('t', {t}, 'v', {v}), "
                               f"CASE WHEN {v} IS NOT NULL THEN {t} END)"
                 for d in dirs for i, v in enumerate(vs)},
        back=carry("back"), fwd=carry("fwd"))
    cols = []
    for i, (v, name) in enumerate(zip(vs, value_cols)):
        seen = {d: (f"__{d}v{i}", f"__{d}t{i}") for d in dirs}
        if bucket_width is not None:
            seen = {d: (f"CASE WHEN {dt} IS NULL THEN __{d}c{i}.v ELSE {dv} END",
                        f"coalesce({dt}, __{d}c{i}.t)") for d, (dv, dt) in seen.items()}
        cols.append(f"{emit(v, seen, t)} AS {_q(name + out_suffix)}")
    return s.selectExpr(*e.restore(*df.columns), *cols)


def locf(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    limit: int | None = None,
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Fill NULLs with the last preceding non-NULL per key; appends
    ``<v><out_suffix>`` per value column. ``limit``: carry at most that
    many order-units past the observation (NULL again beyond it) — the
    distance is measured in the order column's OWN type for numeric
    order columns (exact for doubles too) and in long epoch units for
    timestamp/date ones (see :func:`_order_distance`); the bucketed
    path casts to long (its carry times are long), so it requires
    an integer order domain anyway. ``bucket_width``: time-sliced skew
    path (module docstring)."""
    def emit(v: str, seen: dict[str, tuple[str, str]], t: str) -> str:
        pv, pt = seen["prev"]
        return pv if limit is None else f"CASE WHEN {t} - {pt} <= {int(limit)} THEN {pv} END"

    return _fill(df, order_col, value_cols, group_vars, out_suffix, bucket_width,
                 ["prev"], emit)


def nocb(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    limit: int | None = None,
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Next observation carried backward — :func:`locf` on the mirrored
    order axis (same single-exchange plan, descending sort; same
    ``bucket_width`` skew path with the carry scanned from LATER
    buckets)."""
    def emit(v: str, seen: dict[str, tuple[str, str]], t: str) -> str:
        nv, nt = seen["next"]
        return nv if limit is None else f"CASE WHEN {nt} - {t} <= {int(limit)} THEN {nv} END"

    return _fill(df, order_col, value_cols, group_vars, out_suffix, bucket_width,
                 ["next"], emit)


def interpolate_linear(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Interior NULLs become the linear interpolation between the nearest
    preceding and following observations (weighted by order distance);
    rows outside the observed span stay NULL; observed rows pass through.

    Two windows (ascending + descending) over the SAME key partitioning —
    Catalyst plans one exchange and two sorts, still zero joins. With
    ``bucket_width`` the windows re-key by (key, bucket) and BOTH carry
    directions come from one 1-row-per-bucket table (one extra join).
    A DATE order interpolates over epoch days, like the other fills'
    ``limit``."""
    def emit(v: str, seen: dict[str, tuple[str, str]], t: str) -> str:
        (pv, pt), (nv, nt) = seen["prev"], seen["next"]
        return (f"CASE WHEN {v} IS NOT NULL THEN CAST({v} AS DOUBLE) "
                f"WHEN {pv} IS NOT NULL AND {nv} IS NOT NULL "
                f"THEN {pv} + ({nv} - {pv}) * ({t} - {pt}) / ({nt} - {pt}) END")

    return _fill(df, order_col, value_cols, group_vars, out_suffix, bucket_width,
                 ["prev", "next"], emit, double=True)
