"""Tiered continuous aggregates: 1h → 1d → 30d rollup with mergeable state.

The north-star pipeline (BASELINE.json north_rule) generalizes
``intervalaverage`` onto fixed retention tiers. Two design decisions make
it scale to 10^12 rows:

1. **No range join in the cascade.** Tier windows ARE the range-join
   buckets: each x interval explodes across the windows it covers
   (``sequence(floor(s/W), floor(e/W))``, ≤ len/W + 1 rows), then ONE
   shuffled aggregate per tier. Equivalent to
   ``interval_average(x, tier_grid(...))`` — property-tested — but with
   zero join, zero grid materialization.

2. **State, not points, between tiers.** Weighted means don't merge;
   their numerators/denominators do (Σw·v, Σw). The maxgap statistic
   merges via classic longest-run segment algebra: per (window, value
   var) keep ``(prefix, suffix, best)`` = (uncovered run touching the
   left edge, touching the right edge, best anywhere). Parent windows
   fold their children in ws order; children absent from the state table
   are implicitly all-gap (that's the gap-fill). 30d-from-1d therefore
   EQUALS 30d-from-raw exactly (integer gap/weight math; float Σ up to
   addition order).

State schema per (group_vars…, ws, we):
    xduration, xminstart, xmaxend            — shared bookkeeping
    sum_wv_<v>, nobs_<v>                     — weighted-mean state
    prefix_<v>, suffix_<v>, best_<v>         — maxgap state

``rollup_tiers`` computes every tier from raw in one plan (x × tiers, the
window width a column keyed by tier) — the incremental job's single tier
pass. ``rollup_cascade`` merges a finer tier's state instead, for when raw
has aged out.

``finalize`` turns state into reference-semantics points (same columns as
:func:`interval_average`), optionally gap-filling empty windows against a
dense per-key grid (unmatched-y semantics, src/code.cpp:32-50).

Reference parity: weighted means/nobs per src/code.cpp:133-144; maxgap per
src/code.cpp:91-167 (the (prefix,suffix,best) fold is equivalent to the
reference's single-pass run accumulation — differential-tested).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import types as T

from intervalaverage_spark.operators.average import _mean_of, _wv_term
from intervalaverage_spark.operators.grid import tier_grid
from intervalaverage_spark.plans.rangejoin import fdiv


def _zero_like(dt: T.DataType) -> Column:
    """Typed zero for Σw·v state: keeps coalesce from silently coercing an
    exact decimal sum back to double (DecimalType = the exact-arithmetic
    path, see operators/average.py _wv_term)."""
    if isinstance(dt, T.DecimalType):
        return F.lit(0).cast(f"decimal(38,{dt.scale})")
    return F.lit(0.0)

#: tier name → window width in integer time units (seconds)
TIER_WIDTHS: dict[str, int] = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}



def _state_agg(
    exploded: DataFrame,
    group_vars: Sequence[str],
    value_vars: Sequence[str],
    width: int,
) -> DataFrame:
    """Tier-1 aggregate: groupBy (groups, window-id) over exploded rows
    carrying (os, oe) coverage + per-v payloads, emit the state table.

    PERF: gap state is computed with a window function + plain min/max
    aggregates — whole-stage-codegen throughout, no collect_list, no
    higher-order folds (interpreted HOFs cost ~5µs/row × rows, dominating
    the tier at 10^7+ windows). The window and the groupBy share the
    (groups, __k) partitioning, so this is still ONE exchange."""
    os_, oe_ = F.col("__os"), F.col("__oe")
    w = oe_ - os_ + 1
    ws = (F.col("__k") * width).cast("long")
    wspec = (
        Window.partitionBy(*group_vars, "__k")
        .orderBy("__os")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_cols = []
    for v in value_vars:
        nn = ~F.col(f"__na_{v}")
        # last covered-for-v end before this row (x non-overlapping → max);
        # ws-1 seed makes the first gap include the window lead-in
        prev_end = F.max(F.when(nn, oe_)).over(wspec)
        gap_cols.append(
            F.when(nn, os_ - F.coalesce(prev_end, ws - 1) - 1).alias(f"__gap_{v}")
        )
    exploded = exploded.select("*", *gap_cols)

    aggs = [
        F.sum(w).alias("xduration"),
        F.min(os_).alias("xminstart"),
        F.max(oe_).alias("xmaxend"),
    ]
    swv_types = {v: exploded.schema[f"__swv_{v}"].dataType for v in value_vars}
    for v in value_vars:
        nn = ~F.col(f"__na_{v}")
        aggs += [
            F.sum(F.when(nn, F.col(f"__swv_{v}"))).alias(f"sum_wv_{v}"),
            F.sum(F.when(nn, F.col(f"__nob_{v}"))).alias(f"nobs_{v}"),
            F.min(F.when(nn, os_)).alias(f"__first_{v}"),
            F.max(F.when(nn, oe_)).alias(f"__last_{v}"),
            F.max(F.col(f"__gap_{v}")).alias(f"__maxg_{v}"),
        ]
    agg = exploded.groupBy(*group_vars, "__k").agg(*aggs)

    ws = (F.col("__k") * width).cast("long")
    we = ((F.col("__k") + 1) * width - 1).cast("long")
    ln = F.lit(width).cast("long")
    out = [*(F.col(g) for g in group_vars), ws.alias("ws"), we.alias("we"),
           "xduration", "xminstart", "xmaxend"]
    for v in value_vars:
        suffix = F.when(F.col(f"__last_{v}").isNull(), ln).otherwise(we - F.col(f"__last_{v}"))
        out += [
            F.coalesce(F.col(f"sum_wv_{v}"), _zero_like(swv_types[v])).alias(f"sum_wv_{v}"),
            F.coalesce(F.col(f"nobs_{v}"), F.lit(0)).cast("long").alias(f"nobs_{v}"),
            F.coalesce(F.col(f"__first_{v}") - ws, ln).alias(f"prefix_{v}"),
            suffix.alias(f"suffix_{v}"),
            F.greatest(F.coalesce(F.col(f"__maxg_{v}"), F.lit(0)), suffix).alias(f"best_{v}"),
        ]
    return agg.select(*out)



def rollup_from_raw(
    x: DataFrame,
    width: int | Column,
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars: tuple[str, str] = ("start", "end"),
    interior_partitions: int | None = None,
) -> DataFrame:
    """Tier-1: raw NON-OVERLAPPING intervals → per-window state.

    Interior/boundary split (the scale trick): a window strictly inside an
    interval is fully covered by exactly that interval (any other interval
    touching it would overlap — x is non-overlapping, the reference's hard
    requirement R/intervalaverage_functions.R:324-338). Interior windows
    therefore map 1:1 from exploded rows with constant state — NO shuffle,
    NO aggregation, pure codegen projection. Only the ≤2 boundary windows
    per interval (shareable with neighboring intervals) go through the
    shuffled aggregate — ~2 rows/interval instead of len/width. At 10^7+
    windows this removes a 10^7-group hash aggregate from the hot path
    (measured ~6× on the 1h tier).

    ``width`` may be a Column over ``group_vars`` (a per-row window width,
    as :func:`rollup_tiers` passes); every window expression then reads it
    per row, and the group keys keep rows of different widths apart."""
    group_vars, value_vars = list(group_vars), list(value_vars)
    s, e = (F.col(interval_vars[0]).cast("long"), F.col(interval_vars[1]).cast("long"))
    base = x.select(
        *group_vars, *value_vars,
        s.alias("__xs"), e.alias("__xe"),
        fdiv(s, width).alias("__k0"), fdiv(e, width).alias("__k1"),
    )

    # --- boundary windows: first and last window of each interval
    kb = F.explode(F.array_distinct(F.array(F.col("__k0"), F.col("__k1")))).alias("__k")
    b = base.select(*group_vars, *value_vars, "__xs", "__xe", kb)
    ws = (F.col("__k") * width).cast("long")
    we = ((F.col("__k") + 1) * width - 1).cast("long")
    os_ = F.greatest(F.col("__xs"), ws)
    oe_ = F.least(F.col("__xe"), we)
    cols = [*group_vars, "__k", os_.alias("__os"), oe_.alias("__oe")]
    for v in value_vars:
        wt = oe_ - os_ + 1
        cols += [
            _wv_term(wt, v, x.schema[v].dataType).alias(f"__swv_{v}"),
            wt.alias(f"__nob_{v}"),
            F.col(v).isNull().alias(f"__na_{v}"),
        ]
    boundary = _state_agg(b.select(*cols), group_vars, value_vars, width)

    # --- interior windows: fully covered by this single interval
    it = base.filter(F.col("__k1") > F.col("__k0") + 1)
    if interior_partitions:
        # Escape hatch, OFF by default: the interior branch is NARROW, so
        # its task count = the raw scan's split count. If the raw table
        # arrives in fewer splits than cores (one giant unsplittable file,
        # a tiny-but-dense table), the ~len/width×-amplified explode+write
        # serializes; round-robin repartitioning the FILTERED pre-explode
        # rows (only long intervals shuffle — cheap) restores parallelism.
        # When splits ≥ cores this knob LOSES (measured 3.2× slower at 4
        # cores, BENCH/interior_repartition_probe.py): the extra exchange
        # destroys url clustering, and the exploded writes lose their
        # run-length/dict locality. Leave it None unless the input layout
        # is known-degenerate.
        it = it.repartition(interior_partitions)
    it = it.select(
        *group_vars, *value_vars,
        F.explode(F.sequence(F.col("__k0") + 1, F.col("__k1") - 1)).alias("__k"),
    )
    iws = (F.col("__k") * width).cast("long")
    iwe = ((F.col("__k") + 1) * width - 1).cast("long")
    ln = F.lit(width).cast("long")
    zero = F.lit(0).cast("long")
    icols = [*(F.col(g) for g in group_vars), iws.alias("ws"), iwe.alias("we"),
             ln.alias("xduration"), iws.alias("xminstart"), iwe.alias("xmaxend")]
    for v in value_vars:
        na = F.col(v).isNull()
        icols += [
            F.when(na, _zero_like(x.schema[v].dataType))
            .otherwise(_wv_term(ln, v, x.schema[v].dataType)).alias(f"sum_wv_{v}"),
            F.when(na, zero).otherwise(ln).alias(f"nobs_{v}"),
            F.when(na, ln).otherwise(zero).alias(f"prefix_{v}"),
            F.when(na, ln).otherwise(zero).alias(f"suffix_{v}"),
            F.when(na, ln).otherwise(zero).alias(f"best_{v}"),
        ]
    interior = it.select(*icols)
    return boundary.unionByName(interior)


def rollup_tiers(
    x: DataFrame,
    widths: Mapping[str, int],
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
) -> DataFrame:
    """Every tier from raw in ONE plan: the state of each tier name →
    width in ``widths``, tagged with the tier name in column ``tier``.

    x × tiers: each raw row is repeated once per tier, and one
    :func:`rollup_from_raw` runs over the result with the window width a
    column (a CASE on the tier) and the tier added to the window and group
    keys. Rows of tier ``t`` equal ``rollup_from_raw(x, widths[t], …)``
    (tested). One plan instead of one per tier: x is scanned once, the
    boundary windows of all tiers share one exchange, and the result is
    persisted, counted and written once."""
    tier = F.col("tier")
    (name0, w0), *rest = widths.items()
    width = F.when(tier == name0, F.lit(w0))
    for name, w in rest:
        width = width.when(tier == name, F.lit(w))
    tagged = x.select("*", F.explode(F.array(*map(F.lit, widths))).alias("tier"))
    return rollup_from_raw(tagged, width, value_vars, [*group_vars, "tier"])


def rollup_cascade(
    state: DataFrame,
    from_width: int,
    to_width: int,
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
) -> DataFrame:
    """Tier-k → tier-(k+1): merge child states into parent windows.
    ``to_width`` must be a multiple of ``from_width`` (epoch-aligned tiling)."""
    if to_width % from_width:
        raise ValueError(f"{to_width} not a multiple of {from_width}: tiers must tile")
    group_vars, value_vars = list(group_vars), list(value_vars)
    k = fdiv(F.col("ws"), to_width).alias("__k")
    ln = F.col("we") - F.col("ws") + 1
    cols = [*group_vars, k, F.col("ws"), F.col("we"),
            F.col("xminstart").alias("__os_raw"), F.col("xmaxend").alias("__oe_raw"),
            "xduration"]
    for v in value_vars:
        # child coverage span for v: [ws+prefix, we-suffix]; all-gap child
        # contributes nothing (its gap is covered by neighbors' gap terms)
        has_cov = F.col(f"prefix_{v}") < ln
        cols += [
            F.when(has_cov, F.col("ws") + F.col(f"prefix_{v}")).alias(f"__cs_{v}"),
            F.when(has_cov, F.col("we") - F.col(f"suffix_{v}")).alias(f"__ce_{v}"),
            F.when(has_cov, F.col(f"best_{v}")).alias(f"__ib_{v}"),
            F.col(f"sum_wv_{v}").alias(f"__swv_{v}"),
            F.col(f"nobs_{v}").alias(f"__nob_{v}"),
        ]
    child = state.select(*cols)

    # same window+aggregate shape as tier-1's _state_agg: the gap run ending
    # at each covered child = child coverage start − previous covered child's
    # coverage end − 1 (parent_ws−1 seed folds the lead-in gap in); a child's
    # internal best competes as-is. All codegen, no arrays.
    pws = (F.col("__k") * to_width).cast("long")
    wspec = (
        Window.partitionBy(*group_vars, "__k")
        .orderBy("ws")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_cols = []
    for v in value_vars:
        prev_ce = F.max(F.col(f"__ce_{v}")).over(wspec)
        run = F.col(f"__cs_{v}") - F.coalesce(prev_ce, pws - 1) - 1
        gap_cols.append(
            F.when(F.col(f"__cs_{v}").isNotNull(),
                   F.greatest(run, F.col(f"__ib_{v}"))).alias(f"__gap_{v}")
        )
    child = child.select("*", *gap_cols)

    aggs = [
        F.sum("xduration").alias("xduration"),
        F.min("__os_raw").alias("xminstart"),
        F.max("__oe_raw").alias("xmaxend"),
    ]
    for v in value_vars:
        aggs += [
            F.sum(f"__swv_{v}").alias(f"sum_wv_{v}"),
            F.sum(f"__nob_{v}").alias(f"nobs_{v}"),
            F.min(f"__cs_{v}").alias(f"__first_{v}"),
            F.max(f"__ce_{v}").alias(f"__last_{v}"),
            F.max(f"__gap_{v}").alias(f"__maxg_{v}"),
        ]
    agg = child.groupBy(*group_vars, "__k").agg(*aggs)

    ws = (F.col("__k") * to_width).cast("long")
    we = ((F.col("__k") + 1) * to_width - 1).cast("long")
    pln = F.lit(to_width).cast("long")
    out = [*(F.col(g) for g in group_vars), ws.alias("ws"), we.alias("we"),
           "xduration", "xminstart", "xmaxend"]
    for v in value_vars:
        suffix = F.when(F.col(f"__last_{v}").isNull(), pln).otherwise(we - F.col(f"__last_{v}"))
        out += [
            F.coalesce(
                F.col(f"sum_wv_{v}"), _zero_like(state.schema[f"sum_wv_{v}"].dataType)
            ).alias(f"sum_wv_{v}"),
            F.coalesce(F.col(f"nobs_{v}"), F.lit(0)).cast("long").alias(f"nobs_{v}"),
            F.coalesce(F.col(f"__first_{v}") - ws, pln).alias(f"prefix_{v}"),
            suffix.alias(f"suffix_{v}"),
            F.greatest(F.coalesce(F.col(f"__maxg_{v}"), F.lit(0)), suffix).alias(f"best_{v}"),
        ]
    return agg.select(*out)


def finalize(
    state: DataFrame,
    width: int,
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    required_percentage: float = 100.0,
    dense_lo: int | None = None,
    dense_hi: int | None = None,
    interval_vars_out: tuple[str, str] = ("start", "end"),
) -> DataFrame:
    """State → reference-semantics points, column-compatible with
    :func:`interval_average` output. With ``dense_lo/hi``, gap-fills every
    tier window in [lo, hi] for every key (unmatched-y rows:
    value NULL, xduration=0, nobs=0, maxgap=yduration)."""
    group_vars, value_vars = list(group_vars), list(value_vars)
    s_out, e_out = interval_vars_out
    if dense_lo is not None and dense_hi is not None:
        keys = state.select(*group_vars).distinct()
        grid = tier_grid(keys, dense_lo, dense_hi, width, "ws", "we")
        st = state
        for g in group_vars:
            st = st.withColumnRenamed(g, f"__f_{g}")
        st = st.withColumnRenamed("ws", "__f_ws").withColumnRenamed("we", "__f_we")
        cond = (grid["ws"] == st["__f_ws"]) & (grid["we"] == st["__f_we"])
        for g in group_vars:
            cond = grid[g].eqNullSafe(st[f"__f_{g}"]) & cond
        state = grid.join(st, cond, "left").drop(
            "__f_ws", "__f_we", *[f"__f_{g}" for g in group_vars]
        )
    ydur = (F.col("we") - F.col("ws") + 1).cast("long")
    out: list[Column] = [F.col(g) for g in group_vars]
    out += [F.col("ws").alias(s_out), F.col("we").alias(e_out)]
    for v in value_vars:
        nobs = F.coalesce(F.col(f"nobs_{v}"), F.lit(0))
        avg = _mean_of(
            F.col(f"sum_wv_{v}"), F.col(f"nobs_{v}"),
            state.schema[f"sum_wv_{v}"].dataType,
        )
        out.append(
            F.when(
                (nobs > 0)
                & (F.lit(100.0) * nobs / ydur >= F.lit(float(required_percentage))),
                avg,
            ).cast("double").alias(v)
        )
    out.append(ydur.alias("yduration"))
    out.append(F.coalesce(F.col("xduration"), F.lit(0)).cast("long").alias("xduration"))
    out += [
        F.coalesce(F.col(f"nobs_{v}"), F.lit(0)).cast("long").alias(f"nobs_{v}")
        for v in value_vars
    ]
    out += [F.col("xminstart"), F.col("xmaxend")]
    out += [
        F.coalesce(F.col(f"best_{v}"), ydur).cast("long").alias(f"maxgap_{v}")
        for v in value_vars
    ]
    return state.select(*out)
