"""Overlap isolation — fragment a self-overlapping interval set into atomic
pieces (``isolateoverlaps``, reference R/intervalaverage_functions.R:756-828).

Every input row maps to ≥1 output fragments that are mutually
non-overlapping or exactly coinciding, and whose union reproduces the
original row's interval exactly. Algorithm (endpoint sweep, Spark-first):

  1. unpivot each row's (start,end) into an endpoint stream   (:788-791)
  2. per group, sort endpoints with starts before ends at equal value and
     take the lead() endpoint                                  (:796-801)
  3. boundary algebra for closed intervals (±1 shifts): a start opens a
     fragment at ``value``, an end opens at ``value+1``; the fragment closes
     at ``next_value-1`` for a next-start and ``next_value`` for a next-end
     (:806-809); drop inverted candidates (:811)
  4. inner range join of candidate fragments back onto the original rows
     (``foverlaps`` :817) — fragments inherit every covering source row.
All SQL text over ``validation.enter``'s internal names; the last
projection restores the user's names and bound types.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.plans.rangejoin import range_join
from intervalaverage_spark.validation import _over, _q, check_intervals, enter


def isolate_overlaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars_out: tuple[str, str] = ("start", "end"),
    validate: bool = True,
    strategy: str = "auto",
    bucket_width: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Returns ``(*group_vars, interval_vars_out[0], interval_vars_out[1],
    *original interval_vars, *other x columns)`` — one row per (fragment,
    covering source row), sorted like the reference (:818-826);
    ``sort=False`` drops that final global sort for order-insensitive
    callers (saves a full range-exchange pass at scale)."""
    (iv, gv), (out_s, out_e) = (list(interval_vars), list(group_vars)), interval_vars_out
    ent = enter(x, iv, gv, keep="x", out=(*interval_vars_out, *iv))
    if validate:
        check_intervals(x, iv[0], iv[1], gv, label="x")

    # endpoint sweep, starts (__end = 0) first; the fragments' groups are
    # __fg… so the join back onto x does not resolve them against x's
    xg = ent.cols("xg")
    fg = [f"__fg{i}" for i in range(len(xg))]
    pts = ent.x.selectExpr(
        *(f"{g} AS {f}" for g, f in zip(xg, fg)),
        "inline(array(named_struct('__v', __xs, '__end', 0), "
        "named_struct('__v', __xe, '__end', 1)))",
    ).distinct()
    over = _over(fg, "__v, __end")
    frags = pts.selectExpr(
        *fg,
        "CASE WHEN __end = 0 THEN __v ELSE __v + 1 END AS __fs",
        f"lead(__v) {over} - CASE WHEN lead(__end) {over} = 1 THEN 0 ELSE 1 END AS __fe",
    ).where("__fs <= __fe").distinct()

    joined = range_join(frags, ent.x, ("__fs", "__fe"), ("__xs", "__xe"),
                        group_vars=dict(zip(fg, xg)), strategy=strategy, bucket_width=bucket_width)
    out = joined.selectExpr(
        *ent.user(*xg), *map(ent.bound, ("__fs", "__fe", "__xs", "__xe"),
                             (out_s, out_e, *iv), ("__xs", "__xe") * 2),
        *ent.user(*ent.cols("xc")))
    return out.orderBy(*map(_q, [*gv, out_s, out_e, *iv])) if sort else out
