"""As-of (point-in-time) join — the lead/lag construction generalized.

The reference derives validity windows from visit timestamps with an
as-of/lead construction (SURVEY §1.5; sources/webts.py mirrors it). This
module exposes the underlying operator directly: for every left row at
time ``t``, attach the most recent right row at ``rt <= t`` (backward; or
the earliest ``rt >= t`` forward), per key, optionally within a
``tolerance``.

Spark-first design — **zero join in the default path**:

* tag both sides, UNION them, and run ONE window per key ordered by
  ``(t, side)`` with ``last(payload, ignorenulls=True)``. Right rows sort
  before left rows at equal ``t``, so the match is inclusive. One
  exchange, one sort, whole-stage codegen; no range join, no broadcast,
  no per-key binary search. (A join-based as-of needs an equi+range
  non-equi join and a per-pair argmax — strictly more shuffles.)

* ``bucket_width`` (the skew path): the window runs per (key, time
  bucket) and a left row whose bucket holds no earlier right row takes
  its match from :func:`~intervalaverage_spark.plans.slices.time_sliced`
  — per (key, bucket) the right side collapses to its last payload, so
  the carry scan touches ~n_buckets rows per key, not n_rows. Equality
  with the flat path, NULL keys included, is property-tested
  (tests/test_asof_fill.py, tests/test_property_hypothesis.py).

100 TB: both paths shuffle each row exactly once on a composite key the
data model already spreads (url-hash × time); no driver collect, no
state larger than one window partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.plans.slices import time_sliced
from intervalaverage_spark.validation import IntervalSchemaError, _q, check_unique_ts


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance: int | None = None,
    bucket_width: int | None = None,
    suffix: str = "_right",
    validate: bool = False,
) -> DataFrame:
    """For each left row, attach the closest right row per key.

    backward: latest right with ``rt <= t``; forward: earliest right with
    ``rt >= t``. Unmatched (or out-of-``tolerance``) left rows keep NULL
    right columns — left rows are never dropped (left-join semantics,
    matching DuckDB ``ASOF LEFT JOIN``).

    Output: every left column, then ``<right_ts><suffix>`` (the matched
    timestamp) and ``<c><suffix>`` for each of ``right_cols`` (default:
    all non-key, non-ts right columns).

    Right rows must be unique per (key, ``right_ts``) — the analogue of
    the reference's non-overlapping-x requirement
    (R/intervalaverage_functions.R:324-338): with duplicates the matched
    payload is sort-order-dependent. ``validate=True`` checks it eagerly
    (one aggregate + a single-row head, the reference's skippable
    eager-validation philosophy); default off — dedup upstream.
    """
    if direction not in ("backward", "forward"):
        raise IntervalSchemaError(f"direction must be backward/forward, got {direction!r}")
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*on, right_ts)]
    right_cols = list(right_cols)
    for c in on + [left_ts]:
        if c not in left.columns:
            raise IntervalSchemaError(f"left is missing column {c!r}")
    for c in on + [right_ts, *right_cols]:
        if c not in right.columns:
            raise IntervalSchemaError(f"right is missing column {c!r}")
    clash = [f"{c}{suffix}" for c in (right_ts, *right_cols) if f"{c}{suffix}" in left.columns]
    if clash:
        raise IntervalSchemaError(f"suffix {suffix!r} collides with left columns {clash}")
    if validate:
        check_unique_ts(right, right_ts, on)

    # both sides under internal names: keys __k<i>, time __t (negated for
    # forward = backward on the mirrored axis; right rows still sort first
    # at equal time via __side), payloads as structs of positional fields
    keys = [f"__k{i}" for i in range(len(on))]
    neg = "-" if direction == "forward" else ""

    def side(df: DataFrame, ts: str, n: int, pay: str, cols: list[str]) -> DataFrame:
        fields = ", ".join(f"'c{i}', {c}" for i, c in enumerate(cols))
        return df.selectExpr(*(f"{_q(c)} AS {k}" for c, k in zip(on, keys)),
                             f"{neg}CAST({_q(ts)} AS BIGINT) AS __t", f"{n} AS __side",
                             f"named_struct({fields}) AS {pay}")

    rcols = [f"CAST({_q(right_ts)} AS BIGINT)", *map(_q, right_cols)]
    u = side(left, left_ts, 1, "__lpay", [*map(_q, left.columns)]).unionByName(
        side(right, right_ts, 0, "__rpay", rcols), allowMissingColumns=True)
    # a slice's last right payload, field by field: primitive fields keep
    # the aggregate hash-based (a struct buffer would sort every row)
    rt = "CASE WHEN __side = 0 THEN __t END"
    last = ", ".join(f"'c{i}', __l{i}" for i in range(len(rcols)))
    s = time_sliced(
        u, keys, "__t", bucket_width,
        window=lambda p: {"__m": "last(__rpay, true) OVER "
                                 f"({p} ORDER BY __t, __side ROWS UNBOUNDED PRECEDING)"},
        summary={"__lt": f"max({rt})",
                 **{f"__l{i}": f"max_by(__rpay.c{i}, {rt})" for i in range(len(rcols))}},
        back=lambda w: {"__carry": f"last(CASE WHEN __lt IS NOT NULL THEN "
                                   f"named_struct({last}) END, true) {w}"})
    m = "__m" if bucket_width is None else "coalesce(__m, __carry)"
    if tolerance is not None:
        # distance on the (possibly mirrored) axis: __t ∓ rt >= 0 always
        m = f"CASE WHEN __t {'+' if neg else '-'} {m}.c0 <= {int(tolerance)} THEN {m} END"
    return s.where("__side = 1").selectExpr(f"{m} AS __m", "__lpay").selectExpr(
        *(f"__lpay.c{i} AS {_q(c)}" for i, c in enumerate(left.columns)),
        *(f"__m.c{i} AS {_q(c + suffix)}" for i, c in enumerate([right_ts, *right_cols])))
