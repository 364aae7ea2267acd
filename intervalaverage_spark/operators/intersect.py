"""Pairwise interval intersection — ``intervalintersect`` reimagined.

Reference: R/intervalintersect.r:113-211. All (x row, y row) pairs whose
closed intervals overlap within matching groups; output interval is the
clip ``[max(starts), min(ends)]`` (pmax/pmin at :195-199), carrying all
non-join columns from both sides. Interval and group vars may be *named*
mappings x→y (:34-43, 117-118, 153-154).

Spark-first: ``validation.enter`` puts both sides under internal names,
one inner range join (bucketed at scale) pairs them, and one SQL
projection clips the pair and restores the user's names.
"""

from __future__ import annotations

import datetime
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.plans.rangejoin import range_join
from intervalaverage_spark.validation import _q, check_intervals, enter


def interval_intersect(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str] | Mapping[str, str],
    group_vars: Sequence[str] | Mapping[str, str] = (),
    interval_vars_out: tuple[str, str] = ("start", "end"),
    validate: bool = True,
    strategy: str = "auto",
    bucket_width: int | None = None,
    salt: int | None = None,
    hot_threshold: int | None = None,
    sort: bool = True,
    verbose: bool = False,
) -> DataFrame:
    """Inner range join + clip. Output columns: ``(*group_vars(y names),
    *interval_vars_out, *other x cols, *other y cols)``. Name collisions
    between non-key x and y columns raise ``IntervalSchemaError`` (the
    reference errors likewise via data.table join rules).
    ``sort=False`` skips the final reference-parity orderBy (one whole
    extra range-exchange + sort at scale) for order-insensitive callers."""
    ent = enter(x, interval_vars, group_vars, y=y, keep="xy", out=interval_vars_out)
    if validate:
        check_intervals(x, *ent.keys("x"), label="x")
        check_intervals(y, *ent.keys("y"), label="y")
    if verbose:
        # reference prints processing info (R/intervalintersect.r:49, :119)
        print(f"{datetime.datetime.now()} interval_intersect: strategy={strategy} "
              f"groups={ent.keys('x')[2] or None}")

    yg = ent.cols("yg")
    pairs = range_join(ent.x, ent.y, ("__xs", "__xe"), ("__ys", "__ye"),
                       group_vars=dict(zip(ent.cols("xg"), yg)), strategy=strategy,
                       bucket_width=bucket_width, salt=salt, hot_threshold=hot_threshold)
    out = pairs.selectExpr(
        *ent.user(*yg), *map(ent.bound, ("greatest(__xs, __ys)", "least(__xe, __ye)"),
                             interval_vars_out),
        *ent.user(*ent.cols("xc"), *ent.cols("yc")))
    return out.orderBy(*map(_q, [*ent.keys("y")[2], *interval_vars_out])) if sort else out
