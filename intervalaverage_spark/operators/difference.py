"""Interval difference — subtract one interval set from another per key.

Closes the interval algebra: intersect (∩, operators/intersect.py),
coalesce (∪, operators/coalesce.py), gaps (complement within span),
and now difference (−): for every x row, the maximal sub-intervals NOT
covered by ANY y interval of the same key.

Spark-first by COMPOSITION, not by a new kernel:

    x − y  ==  x ∩ free(y)      where
    free(y) = gaps( coalesce(y) ∪ span-sentinels )

``coalesce(y)`` fuses y into disjoint islands (one window);
sentinel single-point intervals at ``span_lo − 1`` and ``span_hi + 1``
(the key's x-span bounds) turn :func:`interval_gaps` into the bounded
complement — including the leading/trailing free runs and the whole
span for keys y never touches; the final clip is
:func:`interval_intersect`, which is the engine's bucketed range join
— so the one join in the operator is the audited scale path (salted
buckets, no per-key hot task), and everything else is key-partitioned
windows and tiny per-key aggregates.

The reference has no difference operator; its users compose it from
``intervalintersect`` + manual anti-logic per group. Here it is three
audited operators glued by ~40 lines (SURVEY.md §2.4 extension).

Closed-interval semantics match every other operator: subtracting
[4,6] from [1,9] leaves [1,3] and [7,9]; mixed int/date classes raise.
The composition runs over the internal names of ``validation.enter``
(DATE bounds as days), and the last projection restores the user's
names and dates.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.operators.coalesce import (
    interval_coalesce,
    interval_gaps,
)
from intervalaverage_spark.operators.intersect import interval_intersect
from intervalaverage_spark.validation import _q, enter


def interval_difference(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str] | Mapping[str, str],
    group_vars: Sequence[str] | Mapping[str, str] = (),
    interval_vars_out: tuple[str, str] = ("start", "end"),
    strategy: str = "auto",
    bucket_width: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Per-key ``x − union(y)``: uncovered pieces of every x row.

    ``interval_vars``/``group_vars`` accept the same x→y name mappings
    as :func:`interval_intersect`. Output columns: ``(*group_vars
    (x names), *interval_vars_out, *other x cols)`` — one row per
    maximal uncovered piece; x rows fully covered by y emit nothing;
    x rows in keys without any y emit themselves whole. Duplicate /
    overlapping rows are fine on BOTH sides (each x row subtracts the
    same fused y cover independently). Keys match null-safely, as in
    the range join.
    """
    ent = enter(x, interval_vars, group_vars, y=y, keep="x", out=interval_vars_out)
    xg, yg = ent.cols("xg"), ent.cols("yg")

    # key's x-span: the universe the complement is bounded by
    span = ent.x.groupBy(*xg).agg(F.expr("min(__xs) AS __lo"), F.expr("max(__xe) AS __hi"))

    # y fused to disjoint islands, clipped to its key's span
    yc = interval_coalesce(ent.y, ("__ys", "__ye"), yg, interval_vars_out=("__ys", "__ye"),
                           sort=False)
    on = " AND ".join([*(f"{a} <=> {b}" for a, b in zip(yg, xg)), "__ye >= __lo", "__ys <= __hi"])
    clipped = yc.join(span, F.expr(on)).selectExpr(
        *xg, "greatest(__ys, __lo) AS __s", "least(__ye, __hi) AS __e")
    # sentinels just outside the span: gaps() then yields the bounded
    # complement INCLUDING leading/trailing free runs (and the whole
    # span when the key has no y at all)
    sentinels = span.selectExpr(
        *xg, "inline(array(named_struct('__s', __lo - 1, '__e', __lo - 1), "
                          "named_struct('__s', __hi + 1, '__e', __hi + 1)))")
    free = interval_gaps(clipped.unionByName(sentinels), ("__s", "__e"), xg,
                         interval_vars_out=("__fs", "__fe"), sort=False)

    # the one real join: the engine's bucketed range join via intersect
    out = interval_intersect(
        ent.x, free.drop("gap_len"), {"__xs": "__fs", "__xe": "__fe"},
        group_vars=dict(zip(xg, xg)), interval_vars_out=("__os", "__oe"),
        validate=False, strategy=strategy, bucket_width=bucket_width, sort=False,
    ).selectExpr(*ent.user(*xg), *map(ent.bound, ("__os", "__oe"), interval_vars_out),
                 *ent.user(*ent.cols("xc")))
    if sort:
        out = out.orderBy(*map(_q, [*ent.keys("x")[2], *interval_vars_out]))
    return out
