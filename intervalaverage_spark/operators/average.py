"""Time-weighted interval averaging — the flagship operator.

Reproduces ``intervalaverage::intervalaverage`` (reference:
R/intervalaverage_functions.R:201-489 + fused C++ kernel src/code.cpp:7-185)
as a lazy DataFrame plan:

    range join (x onto deduped y)  →  window state fold  →  point projection

Semantics (all intervals closed, length = end-start+1):
  * one output row per deduplicated y row
  * per value var v over matched x rows with overlap ``os=max(xs,ys)``,
    ``oe=min(xe,ye)``, weight ``w=oe-os+1``:
      - v        = Σ(w·v | v not null) / Σ(w | v not null), masked to NULL
                   when nobs_v == 0 (NaN→NA, src/code.cpp:169 + :471-474) or
                   when 100·nobs_v/yduration < required_percentage
                   (strict <, R/intervalaverage_functions.R:466-469)
      - nobs_v   = Σ(w | v not null)            (src/code.cpp:137)
      - maxgap_v = longest run of structurally-uncovered or v-null time
                   inside [ys,ye], incl. lead-in (last_observed=ys-1 init,
                   src/code.cpp:91) and tail (ye-last_observed, no -1,
                   src/code.cpp:162-167); NA stretches merge with adjacent
                   structural gaps (src/code.cpp:145-156)
  * xduration = Σ w (all matched rows), xminstart = min(os),
    xmaxend = max(oe)   (src/code.cpp:118-127, 68-75)
  * unmatched y row: values NULL, xduration=0, nobs=0, xminstart/xmaxend
    NULL, maxgap = yduration   (src/code.cpp:32-50)

Scale notes: the fold and the point projection are the tier engine's
(operators/tiers.py ``_fold_pieces`` over ``_state_agg``, and ``_points``).
Each deduped y row is a window ``[ys, ye]``, and its range-join pairs,
clipped to it, are the rows folded into its state — maxgap included, by
the fold's gap-state window, which shares the groupBy's (groups, ys, ye)
exchange. A tier (operators/tiers.py) is therefore this operator against a
tier grid by construction; the weight, mean and gap rules have one
definition.

Both operators here enter through ``validation.enter``: the plan runs over
internal column names, so any group or value name works, and the last
projection restores the user's names and bound types.

Exactness: when a value column is DecimalType, Σw·v accumulates in
DECIMAL (weights are exact integers) — order-independent and bit-identical
across engines/partitionings — and the mean is taken as
``double(Σw·v) / nobs``. Used by the driver-contract queries for
cross-engine value-hash stability; float columns keep plain double sums.
"""

from __future__ import annotations

import datetime
import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.operators.tiers import _fold_pieces, _points
from intervalaverage_spark.plans.rangejoin import range_join
from intervalaverage_spark.validation import (
    IntervalSchemaError,
    _over,
    _q,
    check_intervals,
    enter,
)


def interval_average(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    required_percentage: float = 100.0,
    skip_overlap_check: bool = False,
    validate: bool = True,
    strategy: str = "auto",
    bucket_width: int | None = None,
    salt: int | None = None,
    hot_threshold: int | None = None,
    keep_sums: bool = False,
    sort: bool = True,
    verbose: bool = False,
) -> DataFrame:
    """Time-weighted average of x's value columns onto y's intervals.

    ``interval_vars=(start,end)`` must name the same columns in x and y
    (named x→y mapping is forbidden for this operator, reference
    R/intervalaverage_functions.R:233-234 — a Mapping input raises
    IntervalSchemaError; named mappings are intersect-only). Returns one
    row per deduped y row with columns ``(*group_vars, *interval_vars,
    *value_vars, yduration, xduration, nobs_*, xminstart, xmaxend,
    maxgap_*)``.

    ``keep_sums`` appends the raw ``sum_wv_<v>`` numerators (exact when v
    is DecimalType) — the mergeable state a caller needs to re-derive or
    re-round the mean without float ambiguity, and what the tier cascade
    stores (operators/tiers.py state schema).

    ``sort=True`` (default) orders the output by (groups, interval) for
    reference key-order parity; ``sort=False`` skips the final global
    range-exchange + sort — use it whenever downstream is order-insensitive
    (writes, joins, aggregations): at scale that exchange is a full extra
    pass over the result.
    """
    if isinstance(interval_vars, Mapping):
        raise IntervalSchemaError(
            "interval_vars must be an unnamed (start, end) pair for "
            "interval_average — named x→y interval mappings are "
            "intersect-only (reference R/intervalaverage_functions.R:233-234)"
        )
    group_vars, iv = list(group_vars), list(interval_vars)
    ent = enter(x, iv, group_vars, value_vars, y=y, reserved_ok=False)
    if validate:
        check_intervals(
            x, iv[0], iv[1], group_vars,
            require_non_overlapping=not skip_overlap_check,
            forbid_duplicates=True, label="x",
        )
        check_intervals(y, iv[0], iv[1], group_vars, label="y")
        if verbose:
            # reference prints timing breadcrumbs after each stage
            # (R/intervalaverage_functions.R:156, :335, :483)
            print(f"{datetime.datetime.now()} passed errorcheck: x is non-overlapping.")
    if verbose:
        print(
            f"{datetime.datetime.now()} interval_average: strategy={strategy} "
            f"bucket_width={bucket_width} salt={salt} (plan is lazy; stages "
            "execute on action)"
        )

    xg, yg, xv = ent.cols("xg"), ent.cols("yg"), ent.cols("xv")
    yp = ent.y.dropDuplicates([*yg, "__ys", "__ye"])
    if validate:
        # ONE aggregation job for the dup warning (count + distinct-count
        # fused; the struct keeps null group keys countable — bare
        # count_distinct skips any-null rows)
        n, nd = ent.y.selectExpr(
            "count(1)", f"count(DISTINCT struct({', '.join([*yg, '__ys', '__ye'])}))").first()
        if nd < n:
            warnings.warn(
                f"y contained {n - nd} duplicate rows; duplicates removed "
                "(reference: R/intervalaverage_functions.R:315-322)",
                stacklevel=2,
            )

    # --- RIGHT range join: x pairs onto deduped y, unmatched y kept with
    # null x columns (the reference's right-join semantics, :412-430,
    # expressed directly — no second join-back needed: null-x rows cover
    # nothing, and the per-bucket duplicates of an unmatched y collapse in
    # the fold's groupBy).
    pairs = range_join(
        ent.x, yp,
        ("__xs", "__xe"), ("__ys", "__ye"),
        group_vars=dict(zip(xg, yg)),
        strategy=strategy, bucket_width=bucket_width, salt=salt,
        hot_threshold=hot_threshold,
        how="right",
    )
    # each y row is a window and its pairs, clipped to it, the fold's
    # pieces; greatest/least SKIP nulls, so the unmatched rows would
    # otherwise clip to the full y window — gate on a matched x
    pieces = pairs.selectExpr(
        *yg, *xv, "__ys", "__ye",
        "CASE WHEN __xs IS NOT NULL THEN greatest(__xs, __ys) END AS __os",
        "CASE WHEN __xs IS NOT NULL THEN least(__xe, __ye) END AS __oe",
    )
    # an empty Σw·v stays NULL (keep_sums)
    state = _fold_pieces(pieces, yg, ["__ys", "__ye"], ("__ys", "__ye", "(__ye - __ys + 1)"),
                         {v: x.schema[ent.names[v]].dataType for v in xv}, zero="NULL")
    out = _points(state, {v: ent.names[v] for v in xv}, ent.user(*yg),
                  (ent.bound("ws", iv[0], "__ys"), ent.bound("we", iv[1], "__ye"),
                   ent.bound("xminstart", "xminstart"), ent.bound("xmaxend", "xmaxend")),
                  required_percentage, sums=keep_sums)
    return out.orderBy(*map(_q, [*group_vars, *iv])) if sort else out


def interval_average_slow(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    required_percentage: float = 100.0,
) -> DataFrame:
    """Brute-force differential oracle: expand every interval to unit
    increments, equi-join on (group, t), plain means. Mirrors the
    reference's independent slow path (R/intervalaverage_functions.R:496-705,
    technicaloverview.Rmd:79) — intentionally a DIFFERENT algorithm from
    :func:`interval_average` (islands-trick maxgap instead of the fold).
    Test/small-scale use only (memory: one row per covered time unit).
    """
    group_vars, iv = list(group_vars), list(interval_vars)
    ent = enter(x, iv, group_vars, value_vars, y=y, reserved_ok=False)
    xg, yg, xv = ent.cols("xg"), ent.cols("yg"), ent.cols("xv")
    ykeys = [*yg, "__ys", "__ye"]

    xx = ent.x.selectExpr(*xg, *xv, "explode(sequence(__xs, __xe)) AS __xt", "1 AS __m")
    grid = ent.y.dropDuplicates().selectExpr(*ykeys, "explode(sequence(__ys, __ye)) AS __t")
    on = " AND ".join(["__t = __xt", *(f"{a} <=> {b}" for a, b in zip(yg, xg))])
    j = grid.join(xx, F.expr(on), "left")

    aggs = ["count(__m) AS xduration",
            "min(CASE WHEN __m IS NOT NULL THEN __t END) AS __xmin",
            "max(CASE WHEN __m IS NOT NULL THEN __t END) AS __xmax"]
    for v in xv:
        aggs += [f"avg({v}) AS __avg{v}", f"count({v}) AS __nobs{v}"]
    agg = j.groupBy(*ykeys).agg(*map(F.expr, aggs))

    # maxgap via gaps-and-islands over the dense unit grid
    rk = [f"__r{i}" for i in range(len(ykeys))]
    for v in xv:
        runs = (
            j.where(f"__m IS NULL OR {v} IS NULL")
            .selectExpr(*ykeys, f"__t - row_number() {_over(ykeys, '__t')} AS __grp")
            .groupBy(*ykeys, "__grp").agg(F.expr("count(1) AS __len"))
            .groupBy(*ykeys).agg(F.expr(f"max(__len) AS __maxgap{v}"))
            .toDF(*rk, f"__maxgap{v}")
        )
        on = " AND ".join(f"{k} <=> {r}" for k, r in zip(ykeys, rk))
        agg = agg.join(runs, F.expr(on), "left").drop(*rk)

    ydur = "CAST(__ye - __ys + 1 AS BIGINT)"
    rp = float(required_percentage)
    out = [*ent.user(*yg), ent.bound("__ys", iv[0], "__ys"), ent.bound("__ye", iv[1], "__ye")]
    out += [f"CAST(CASE WHEN __nobs{v} > 0 AND 100.0D * __nobs{v} / {ydur} >= {rp!r}D "
            f"THEN __avg{v} END AS DOUBLE) AS {_q(ent.names[v])}" for v in xv]
    out += [f"{ydur} AS yduration", "CAST(xduration AS BIGINT) AS xduration"]
    out += [f"CAST(__nobs{v} AS BIGINT) AS {_q('nobs_', ent.names[v])}" for v in xv]
    out += [ent.bound("__xmin", "xminstart"), ent.bound("__xmax", "xmaxend")]
    out += [f"CAST(coalesce(__maxgap{v}, 0) AS BIGINT) AS {_q('maxgap_', ent.names[v])}"
            for v in xv]
    return agg.selectExpr(*out).orderBy(*map(_q, [*group_vars, *iv]))
