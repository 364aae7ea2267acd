"""Overlap detection — ``is.overlapping`` (reference R/isoverlapping.R:51-87).

Existence-only check: does ANY pair of intervals within a group overlap
(closed intervals — touching endpoints count, test-Cisoverlapping.R:8)?
The reference deliberately avoids a full self-join (R/isoverlapping.R:17-21);
so do we: sort within group, compare each start to the previous end via a
``lag`` window (kernel src/Cisoverlapping.cpp:16-21), then ``limit 1``.
The window is SQL text over the internal names of ``validation.enter``,
so any group name works.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.validation import Entry, _over, check_intervals, enter


def _overlap_scan(x: DataFrame, interval_vars: Sequence[str], group_vars: Sequence[str],
                  validate: bool) -> tuple[Entry, DataFrame]:
    """THE overlap kernel (shared by :func:`is_overlapping` and
    :func:`overlap_flags`): ``(*internal groups, __ov)``, whether each row
    overlaps its predecessor in (start, end) order within its group. One
    sorted lag-window pass (src/Cisoverlapping.cpp:16-21) — sufficient
    because if ANY pair overlaps, some adjacent-in-sort-order pair does."""
    ent = enter(x, interval_vars, group_vars)
    if validate:
        check_intervals(x, *ent.keys("x"), label="x")
    xg = ent.cols("xg")
    return ent, ent.x.selectExpr(*xg, f"__xs <= lag(__xe) {_over(xg, '__xs, __xe')} AS __ov")


def is_overlapping(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    validate: bool = True,
    verbose: bool = False,
) -> bool:
    if verbose:
        # reference hints about pre-sorting (R/isoverlapping.R:80); Spark
        # sorts inside the window, so the hint is about the plan instead
        print("is_overlapping: one lag-window pass over "
              f"(groups={list(group_vars)}, {list(interval_vars)}), early-out limit 1")
    _, scan = _overlap_scan(x, interval_vars, group_vars, validate)
    return len(scan.where("__ov").limit(1).collect()) > 0


def overlap_flags(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    validate: bool = True,
) -> DataFrame:
    """Per-group overlap existence flags: ``(*group_vars, any_overlap)``.
    Same kernel as :func:`is_overlapping`, aggregated instead of
    early-outed — the grouped-report flavor of the reference's boolean."""
    ent, scan = _overlap_scan(x, interval_vars, group_vars, validate)
    xg = ent.cols("xg")
    return (scan.groupBy(*xg).agg(F.expr("coalesce(max(__ov), false) AS any_overlap"))
            .selectExpr(*ent.user(*xg), "any_overlap"))
