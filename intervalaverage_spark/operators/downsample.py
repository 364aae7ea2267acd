"""Visualization-oriented series downsampling: M4 and LTTB.

A rollup/downsample engine's read path serves dashboards: render a
million-point series into w pixels without losing visual features. Two
published operators:

* **M4** (Jugel et al., VLDB 2014 "M4: A Visualization-Oriented Time
  Series Data Aggregation"): per time bucket keep first/last/min/max
  with their timestamps — error-free line rendering at pixel width.
  Pure groupBy aggregation: ONE shuffle, whole-stage codegen, perfectly
  mergeable (it's a tier-state shape), ideal for Spark. Argmin/argmax
  tie-break = earliest timestamp, via lexicographic ``min(struct(v,t))``
  — deterministic and engine-portable.

* **LTTB** (Steinarsson 2013, "Downsampling Time Series for Visual
  Representation"): sequential greedy triangle maximization — each pick
  depends on the previous pick, so it is inherently per-series
  sequential. Implemented as ``applyInPandas`` per key (numpy inside):
  the right tool when the per-key series fits a task (tier series do:
  a year of 1d points ≈ 365 rows; even 1h ≈ 8.8k), with keys spread
  across executors. For series too long for one task, run M4 first to
  a 2-4× target, then LTTB — the standard cascade.

100 TB: M4 is the scale path (agg-only); LTTB parallelizes across the
(url × var) key space, never within a key — same contract as
encode_segments (functions/gorilla.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from intervalaverage_spark.plans.rangejoin import fdiv_sql
from intervalaverage_spark.validation import IntervalSchemaError, _agg, enter_points

#: the M4 state columns after the keys and bucket
M4_COLS = ("t_first", "v_first", "t_last", "v_last", "t_min", "v_min", "t_max", "v_max",
           "n_points")


def _m4(x: DataFrame, keys: Sequence[str], bucket: str, tv: Sequence[tuple[str, str]],
        n: str) -> DataFrame:
    """Per (``keys``, ``bucket``) the M4 state of the (time, value) SQL
    pairs ``tv`` — first, last, min, max — and the point count ``n``, via
    lexicographic struct min/max: (t, v) orders by time for first/last,
    (v, t) by value then earliest time — a deterministic tie-break. NULL
    structs (NULL v) are ignored by min/max."""
    def pick(f: str, i: int, tv_order: bool) -> str:
        t, v = tv[i]
        fields = f"'t', {t}, 'v', {v}" if tv_order else f"'v', {v}, 't', {t}"
        return f"{f}(CASE WHEN {v} IS NOT NULL THEN named_struct({fields}) END)"

    agg = _agg(x, [*keys, f"{bucket} AS bucket"], {
        "__f": pick("min", 0, True), "__l": pick("max", 1, True),
        "__mn": pick("min", 2, False), "__mx": pick("max", 3, False), "n_points": n})
    return agg.selectExpr(*keys, "bucket", *(f"__{s}.{c} AS {c}_{p}" for s, p in (
        ("f", "first"), ("l", "last"), ("mn", "min"), ("mx", "max")) for c in "tv"), "n_points")


def m4_downsample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_width: int,
    group_vars: Sequence[str] = (),
) -> DataFrame:
    """Per (group, bucket): first/last/min/max of ``value_col`` with their
    timestamps. NULL values are ignored (a bucket of only NULLs keeps
    NULL aggregates but still reports ``n_points``).

    Output: group_vars…, bucket, t_first, v_first, t_last, v_last,
    t_min, v_min, t_max, v_max, n_points.
    """
    e = enter_points(df, ts_col, [value_col], group_vars, out=("bucket", *M4_COLS))
    if bucket_width <= 0:
        raise IntervalSchemaError(f"bucket_width must be positive, got {bucket_width}")
    g = e.cols("xg")
    t = "CAST(__xt0 AS BIGINT)"
    return _m4(e.x, g, fdiv_sql(t, str(int(bucket_width))), [(t, "__xv0")] * 4,
               "count(1)").selectExpr(*e.user(*g), "bucket", *M4_COLS)


def m4_cascade(
    state: DataFrame,
    from_width: int,
    to_width: int,
    group_vars: Sequence[str] = (),
) -> DataFrame:
    """Merge M4 states from ``from_width`` buckets into ``to_width``
    buckets WITHOUT re-reading raw points — M4 state is mergeable the
    same way the tier engine's Σw·v state is (operators/tiers.py):
    first = arg-min over child firsts, min = arg-min over child minima,
    etc., all via the same lexicographic struct aggregates. Exactness
    (``m4_cascade(m4(W1), W2) == m4(W2)``) is property-tested.

    The zoom-out path of a dashboard backend: day → week → month pyramid
    built level-from-level, each level ~W-fold smaller than the last."""
    if to_width % from_width:
        raise IntervalSchemaError(
            f"{to_width} not a multiple of {from_width}: M4 levels must tile")
    e = enter_points(state, "bucket", M4_COLS, group_vars, label="M4 state ")
    g, c = e.cols("xg"), e.cols("xv")
    bucket = fdiv_sql(f"__xt0 * {int(from_width)}", str(int(to_width)))
    return _m4(e.x, g, bucket, [(c[i], c[i + 1]) for i in range(0, 8, 2)],
               f"sum({c[8]})").selectExpr(*e.user(*g), "bucket", *M4_COLS)


def lttb_numpy(t: np.ndarray, v: np.ndarray, n_out: int) -> np.ndarray:
    """Reference LTTB on one series (t sorted ascending, no NaNs).
    Returns the selected row indices, always including both endpoints.
    Sequential by construction — each triangle uses the PREVIOUS pick."""
    n = len(t)
    if n_out >= n or n <= 2:
        return np.arange(n)
    if n_out < 3:
        raise IntervalSchemaError(f"n_out must be >= 3, got {n_out}")
    # bucket boundaries over the interior points (exclusive of endpoints)
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    out = np.empty(n_out, dtype=np.int64)
    out[0], out[-1] = 0, n - 1
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        if hi <= lo:  # empty bucket (n_out ≈ n): degrade to the boundary
            a = int(min(lo, n - 2))
            out[i + 1] = a
            continue
        # average point of the NEXT bucket (the last bucket's "next" is
        # the final endpoint; an empty next bucket degrades likewise)
        if i == n_out - 3 or edges[i + 2] <= hi:
            bx, by = t[n - 1], v[n - 1]
        else:
            nlo, nhi = hi, edges[i + 2]
            bx, by = t[nlo:nhi].mean(), v[nlo:nhi].mean()
        ax, ay = t[a], v[a]
        area = np.abs(
            (ax - bx) * (v[lo:hi] - ay) - (ax - t[lo:hi]) * (by - ay)
        )
        a = lo + int(np.argmax(area))
        out[i + 1] = a
    return out


def lttb(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    n_out: int,
    group_vars: Sequence[str],
) -> DataFrame:
    """Largest-Triangle-Three-Buckets per key: keep ``n_out`` visually
    dominant points of each (group…) series. NULL values are dropped
    first (they carry no triangle area). Output schema: group_vars…,
    ts_col (long), value_col (double)."""
    if n_out < 3:
        raise IntervalSchemaError(f"n_out must be >= 3, got {n_out}")
    e = enter_points(df, ts_col, [value_col], group_vars, keyed=True)
    g = e.cols("xg")
    slim = e.x.selectExpr(*g, "CAST(__xt0 AS BIGINT) AS __xt0",
                          "CAST(__xv0 AS DOUBLE) AS __xv0").where("__xv0 IS NOT NULL")
    schema = T.StructType([slim.schema[c] for c in g] + [
        T.StructField("__xt0", T.LongType()), T.StructField("__xv0", T.DoubleType())])

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__xt0", kind="mergesort").reset_index(drop=True)
        idx = lttb_numpy(pdf["__xt0"].to_numpy(np.float64), pdf["__xv0"].to_numpy(np.float64),
                         n_out)
        return pdf.iloc[idx][[*g, "__xt0", "__xv0"]]

    return slim.groupBy(*g).applyInPandas(_one, schema).selectExpr(
        *e.user(*g, "__xt0", "__xv0"))
