"""CUSUM changepoint detection: two-sided cumulative-sum level-shift
alarms over per-key time series.

Page's CUSUM statistic is a nonlinear recurrence —

    s+_i = max(0, s+_{i-1} + (x_i - mu - kappa))
    s-_i = max(0, s-_{i-1} + (mu - kappa - x_i))

— which looks like it needs a stateful per-row scan (the shape the
reference's C++ kernels do per group; cf. Cintervalaverage's
group-local state walk, src/*.cpp). It does not: with
``P_i = sum_{t<=i} d_t`` the max-reset telescopes to

    s+_i = P_i - min(0, min_{j<=i} P_j)

so the whole detector is ONE exchange on the key partitioning and two
window passes (running sum, then running min of it) — pure JVM window
state, no UDF, no iteration, the same prefix-trick family as the
distributed shard prefix sum (functions/sharding.py).

Cross-engine exactness (the driver's DuckDB gate): every accumulated
quantity is DECIMAL — per-(key, ts) means fold from exact decimal sums
with one IEEE divide; mu/kappa/h are single fixed-order float
expressions over exact decimal aggregates, 6-dp rounded, then cast
back to decimal for the per-row deviations; prefix sums and running
mins run in decimal (exact, order-free). Ties in the order column
cannot exist: input collapses to one row per (key, ts) first, which
also makes the window order total and the output replayable.

Scale shape at 100 TB: the pre-aggregation combines map-side (one row
per (key, ts) survives), the detector is one hash exchange + one sort
per key partition, and a hot key is bounded by its own series length
— no joins, no driver state, no collect.

Reference parity context: no changepoint operator in the reference
(kaufman-lab/intervalaverage) — a time-series payload extension
(SURVEY.md §2.4); the recurrence-to-prefix rewrite is the Spark-first
replacement for a per-group imperative scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.validation import (
    IntervalSchemaError,
    _agg,
    _no_collision,
    _over,
    _q,
    enter_points,
)

_DEC = "DECIMAL(18,6)"
_OUT_COLS = ("x", "s_pos", "s_neg", "alarm")


def _dbl(v: float) -> str:
    """SQL of the double ``v``, exactly (its repr round-trips)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _collapse(x: DataFrame, t: str, keys: Sequence[str]) -> DataFrame:
    """One row per (``keys``, ``t``) of an entered frame: ``(…keys, __t, x)``
    with ``__t`` the SQL time ``t`` and ``x`` the 6-dp decimal mean of the
    non-NULL values ``__xv0`` (exact decimal sum → one IEEE divide → 6-dp
    round → decimal). Collapsing duplicates makes a per-key window order
    TOTAL — the precondition for determinism and the prefix identity."""
    s = _agg(x.where("__xv0 IS NOT NULL"), [*keys, f"{t} AS __t"],
             {"_sx": f"sum(CAST(round(CAST(__xv0 AS DOUBLE), 6) AS {_DEC}))",
              "_cn": "count(1)"})
    return s.selectExpr(*keys, "__t", f"CAST(round(CAST(_sx AS DOUBLE) / _cn, 6) AS {_DEC}) AS x")


def cusum_points(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """One row per (key, ts): the 6-dp decimal mean of ``value_col`` as
    ``x`` — :func:`_collapse` on the raw ``ts_col``."""
    e = enter_points(df, ts_col, [value_col], group_vars, out=[ts_col, "x"])
    g = e.cols("xg")
    return _collapse(e.x, "__xt0", g).selectExpr(*e.user(*g), f"__t AS {_q(ts_col)}", "x")


def cusum_calibration_from_points(
    pts: DataFrame,
    group_vars: Sequence[str],
    kappa_mult: float = 0.5,
    h_mult: float = 4.0,
) -> DataFrame:
    """Per-key ``(mu, kappa, h)`` as DECIMAL(18,6) from exact decimal
    moments of a :func:`cusum_points` relation — mu/kappa/h are each
    ONE fixed-order float expression, 6-dp rounded. This is the
    offline-calibration artifact the STREAMING detector consumes
    (streaming/cusum_stream.py): calibrate on history, monitor the
    stream against it."""
    _no_collision(["mu", "kappa", "h"], group_vars)
    g = [*map(_q, group_vars)]
    stats = _agg(pts, g, {"_n": "count(1)", "_s1": "sum(x)", "_s2": "sum(x * x)"})
    mean = "(CAST(_s1 AS DOUBLE) / _n)"
    sigma = f"sqrt(greatest(0D, CAST(_s2 AS DOUBLE) / _n - {mean} * {mean}))"
    return stats.selectExpr(
        *g, f"CAST(round({mean}, 6) AS {_DEC}) AS mu",
        f"CAST(round({sigma} * {_dbl(kappa_mult)}, 6) AS {_DEC}) AS kappa",
        f"CAST(round({sigma} * {_dbl(h_mult)}, 6) AS {_DEC}) AS h")


def cusum(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    kappa_mult: float = 0.5,
    h_mult: float = 4.0,
    alarms_only: bool = True,
) -> DataFrame:
    """Two-sided CUSUM over ``value_col`` ordered by ``ts_col`` per key.

    Offline (self-calibrating) form: ``mu``/``sigma`` are the per-key
    mean and population std of the per-timestamp series, ``kappa =
    kappa_mult * sigma`` (slack against drift), ``h = h_mult * sigma``
    (alarm threshold). Rows with NULL values are excluded; multiple
    rows per (key, ts) collapse to their mean first (a total window
    order is required for the prefix identity — and for determinism).

    Returns one row per (key, ts) with ``x`` (the series point),
    ``s_pos``/``s_neg`` (the CUSUM statistics, 6-dp), and ``alarm``
    (true when either side exceeds ``h``); ``alarms_only=True`` keeps
    only alarm rows. ``kappa_mult`` ≥ 0, ``h_mult`` > 0 are contracts.
    """
    if kappa_mult < 0:
        raise IntervalSchemaError(
            f"cusum: kappa_mult must be >= 0, got {kappa_mult}"
        )
    if h_mult <= 0:
        raise IntervalSchemaError(
            f"cusum: h_mult must be > 0, got {h_mult}"
        )
    e = enter_points(df, ts_col, [value_col], group_vars, keyed=True,
                     out=(ts_col, "x", "s_pos", "s_neg", "h", "alarm"))
    if clash := [c for c in _OUT_COLS if c in df.columns]:
        raise IntervalSchemaError(
            f"cusum: input columns clash with output names {clash}"
        )
    g = e.cols("xg")
    pts = _collapse(e.x, "__xt0", g)
    cal = cusum_calibration_from_points(pts, g, kappa_mult, h_mult)
    run = _over(g, "__t", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    out = (pts.join(cal, g)
           .selectExpr("*", f"sum(x - mu - kappa) {run} AS _pp",
                       f"sum(mu - kappa - x) {run} AS _pn")
           .selectExpr("*", *(f"_p{s} - least(CAST(0 AS {_DEC}), min(_p{s}) {run}) AS _s{s}"
                              for s in "pn"))
           .selectExpr("*", "_sp > h OR _sn > h AS alarm"))
    if alarms_only:
        out = out.where("alarm")
    return out.selectExpr(
        *e.user(*g), f"__t AS {_q(ts_col)}", "CAST(x AS DOUBLE) AS x",
        "round(CAST(_sp AS DOUBLE), 6) AS s_pos", "round(CAST(_sn AS DOUBLE), 6) AS s_neg",
        "round(CAST(h AS DOUBLE), 6) AS h", "alarm")
