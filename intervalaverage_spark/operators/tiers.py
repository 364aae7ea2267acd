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

One fold builds it, :func:`_state_agg`, for tier-1's boundary windows, for
the cascade and for ``interval_average``, whose windows are its deduped y
rows; :func:`_points` projects it onto points for ``finalize`` and
``interval_average``. The weight, mean, gap and state rules therefore have
one definition, here.

``rollup_tiers`` computes every tier from raw in one plan (x × tiers, the
window width a column keyed by tier) — the incremental job's single tier
pass. ``rollup_cascade`` merges a finer tier's state instead, for when raw
has aged out.

Every stage is built from SQL text — one ``selectExpr``, or ``F.expr``
inside ``agg`` — with each column name quoted by :func:`_q`: a Column
object per operator costs one driver → JVM round trip, and at thousands of
them plan building outweighed the incremental job's work on its data.

``finalize`` turns state into reference-semantics points, optionally
gap-filling empty windows against a dense per-key grid (unmatched-y
semantics, src/code.cpp:32-50).

Reference parity: weighted means/nobs per src/code.cpp:133-144; maxgap per
src/code.cpp:91-167 (the (prefix,suffix,best) fold is equivalent to the
reference's single-pass run accumulation — differential-tested).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intervalaverage_spark.operators.grid import tier_grid
from intervalaverage_spark.plans.rangejoin import fdiv_sql
from intervalaverage_spark.validation import _q

#: tier name → window width in integer time units (seconds)
TIER_WIDTHS: dict[str, int] = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}


def _wv_sql(w: str, v: str, dt: T.DataType) -> str:
    """The per-pair weighted-value term ``w·v`` as SQL text: ``w`` is a SQL
    expression, ``v`` a quoted column name of type ``dt``.

    DecimalType values accumulate EXACTLY: weights are integers, so
    ``Σ decimal(w·v)`` is order-free and engine-portable (the determinism
    contract the driver-compare queries rely on).

    Weight-magnitude contract: the weight (interval length) is cast to the
    WIDEST decimal the value precision leaves room for —
    ``decimal(min(37 − p, 19), 0)`` — so the product stays an exact
    decimal(38, s) (Spark multiply precision = p1 + p2 + 1). A value
    column of precision p therefore supports interval lengths up to
    10^min(37−p, 19) − 1 time units (p ≤ 18 covers any 64-bit length;
    p = 27, the max, still allows 10^10 − 1). Beyond that bound ANSI mode
    raises a cast error — loud, never a silently dropped term."""
    if not isinstance(dt, T.DecimalType):
        return f"({w}) * {v}"
    if dt.precision > 27:
        raise ValueError(
            f"decimal value columns need precision <= 27 (got {dt}); "
            "rescale so w*v fits decimal(38, s) exactly"
        )
    wprec = min(37 - dt.precision, 19)
    return f"CAST({v} * CAST({w} AS DECIMAL({wprec},0)) AS DECIMAL(38,{dt.scale}))"


def _mean_sql(swv: str, nobs: str, dt: T.DataType) -> str:
    """Σw·v / Σw as a double, over the SQL expressions ``swv`` and
    ``nobs``. Decimal sums are exact, so the quotient is a deterministic
    function of the data alone (cast-to-double then one IEEE division),
    independent of partitioning and engine."""
    if isinstance(dt, T.DecimalType):
        swv = f"CAST({swv} AS DOUBLE)"
    return f"{swv} / {nobs}"


def _zero(dt: T.DataType) -> str:
    """Typed zero for Σw·v state: keeps coalesce from silently coercing an
    exact decimal sum back to double (DecimalType = the exact-arithmetic
    path, see :func:`_wv_sql`)."""
    return f"CAST(0 AS DECIMAL(38,{dt.scale}))" if isinstance(dt, T.DecimalType) else "0D"


def _bounds(width: str) -> tuple[str, str, str]:
    """SQL of window ``__k``'s first and last unit and of its length."""
    return (f"CAST(__k * {width} AS BIGINT)", f"CAST((__k + 1) * {width} - 1 AS BIGINT)",
            f"CAST({width} AS BIGINT)")


def _state_agg(
    rows: DataFrame,
    group_vars: Sequence[str],
    window: Sequence[str],
    bounds: tuple[str, str, str],
    order: str,
    span: tuple[str, str, str],
    parts: Mapping[str, tuple[str, ...]],
) -> DataFrame:
    """Fold ``rows`` into the state of their window per group. All
    arguments but ``group_vars`` (column names) are SQL text.

    ``window`` are the key columns that tell a group's windows apart and
    ``bounds`` the window's (first unit, last unit, length) over them.
    ``span`` is a row's (covered units, first, last covered unit), NULL
    where the row covers nothing; ``parts`` maps each value var to the
    row's (first, last unit covered for it, longest inner gap run, Σw·v,
    Σw, Σw·v of a window no row covers it in), NULL where the row does not
    cover the var; ``order`` orders the rows inside a window.

    PERF: gap state is computed with a window function + plain min/max
    aggregates — whole-stage-codegen throughout, no collect_list, no
    higher-order folds (interpreted HOFs cost ~5µs/row × rows, dominating
    the tier at 10^7+ windows). The window and the groupBy share the
    (groups, window) partitioning, so this is still ONE exchange."""
    keys = [*map(_q, group_vars), *window]
    ws, we, ln = bounds
    over = (f"OVER (PARTITION BY {', '.join(keys)} ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
    gaps = []
    aggs = [f"sum({span[0]}) AS xduration", f"min({span[1]}) AS xminstart",
            f"max({span[2]}) AS xmaxend"]
    for v, (first, last, inner, swv, nob, _) in parts.items():
        # the gap run ending at each covered row: its first unit − the last
        # covered unit before it − 1 (the ws−1 seed folds the window lead-in
        # in); a child's inner best competes as-is (greatest skips NULL)
        run = f"{first} - coalesce(max({last}) {over}, {ws} - 1) - 1"
        gaps.append(f"CASE WHEN {first} IS NOT NULL THEN greatest({run}, {inner}) END "
                    f"AS {_q('__gap_', v)}")
        aggs += [f"sum({swv}) AS {_q('sum_wv_', v)}", f"sum({nob}) AS {_q('nobs_', v)}",
                 f"min({first}) AS {_q('__first_', v)}", f"max({last}) AS {_q('__last_', v)}",
                 f"max({_q('__gap_', v)}) AS {_q('__maxg_', v)}"]
    agg = rows.selectExpr("*", *gaps).groupBy(*keys).agg(*map(F.expr, aggs))

    out = [*map(_q, group_vars), f"{ws} AS ws", f"{we} AS we", "xduration", "xminstart",
           "xmaxend"]
    for v, (*_, zero) in parts.items():
        last = _q("__last_", v)
        suffix = f"CASE WHEN {last} IS NULL THEN {ln} ELSE {we} - {last} END"
        out += [f"coalesce({_q('sum_wv_', v)}, {zero}) AS {_q('sum_wv_', v)}",
                f"CAST(coalesce({_q('nobs_', v)}, 0) AS BIGINT) AS {_q('nobs_', v)}",
                f"coalesce({_q('__first_', v)} - {ws}, {ln}) AS {_q('prefix_', v)}",
                f"{suffix} AS {_q('suffix_', v)}",
                f"greatest(coalesce({_q('__maxg_', v)}, 0), {suffix}) AS {_q('best_', v)}"]
    return agg.selectExpr(*out)


def _fold_pieces(
    pieces: DataFrame,
    group_vars: Sequence[str],
    window: Sequence[str],
    bounds: tuple[str, str, str],
    dts: Mapping[str, T.DataType],
    zero: str | None = None,
) -> DataFrame:
    """:func:`_state_agg` over clipped pieces of raw intervals: rows that
    cover ``[__os, __oe]`` of their window (both NULL for a row that
    covers nothing) and carry the value columns ``dts`` maps to their
    types. A row whose value is NULL covers nothing for that value, which
    merges NA stretches with adjacent gaps (src/code.cpp:145-156).
    ``zero`` is the SQL of Σw·v for a window no row covers a value in, by
    default the typed zero of :func:`_zero`."""
    dur, parts = "__oe - __os + 1", {}
    for v, dt in dts.items():
        cov = f"CASE WHEN {_q(v)} IS NOT NULL THEN"
        parts[v] = (f"{cov} __os END", f"{cov} __oe END", "NULL",
                    f"{cov} {_wv_sql(dur, _q(v), dt)} END", f"{cov} {dur} END",
                    zero or _zero(dt))
    return _state_agg(pieces, group_vars, window, bounds, "__os", (dur, "__os", "__oe"), parts)


def _points(
    state: DataFrame,
    value_vars: Mapping[str, str],
    keys: Sequence[str],
    bounds: tuple[str, str, str, str],
    required_percentage: float,
    sums: bool = False,
) -> DataFrame:
    """State → reference-semantics points: ``(*keys, start, end,
    *value_vars, yduration, xduration, nobs_*, xminstart, xmaxend,
    maxgap_*)``, then ``sum_wv_*`` when ``sums``. ``value_vars`` maps each
    value var of the state to its output name; ``keys`` are the SQL
    select items of the group columns and ``bounds`` those of (start, end,
    xminstart, xmaxend). A window with no state (a gap-filled one) reads
    as unmatched: value NULL, xduration 0, nobs 0, maxgap yduration
    (src/code.cpp:32-50)."""
    schema = state.schema
    ydur = "CAST(we - ws + 1 AS BIGINT)"
    out = [*keys, *bounds[:2]]
    for v, o in value_vars.items():
        nobs = _q("nobs_", v)
        mean = _mean_sql(_q("sum_wv_", v), nobs, schema[f"sum_wv_{v}"].dataType)
        # strict < drops the window (R/intervalaverage_functions.R:466-469)
        keep = (f"coalesce({nobs}, 0) > 0 AND 100.0D * coalesce({nobs}, 0) / {ydur} >= "
                f"{float(required_percentage)!r}D")
        out.append(f"CAST(CASE WHEN {keep} THEN {mean} END AS DOUBLE) AS {_q(o)}")
    out += [f"{ydur} AS yduration", "CAST(coalesce(xduration, 0) AS BIGINT) AS xduration"]
    out += [f"CAST(coalesce({_q('nobs_', v)}, 0) AS BIGINT) AS {_q('nobs_', o)}"
            for v, o in value_vars.items()]
    out += bounds[2:]
    out += [f"CAST(coalesce({_q('best_', v)}, {ydur}) AS BIGINT) AS {_q('maxgap_', o)}"
            for v, o in value_vars.items()]
    if sums:
        out += [f"{_q('sum_wv_', v)} AS {_q('sum_wv_', o)}" for v, o in value_vars.items()]
    return state.selectExpr(*out)


def rollup_from_raw(
    x: DataFrame,
    width: int | str,
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars: tuple[str, str] = ("start", "end"),
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

    ``width`` may be a SQL expression over ``group_vars`` (a per-row window
    width, as :func:`rollup_tiers` passes); every window expression then
    reads it per row, and the group keys keep rows of different widths
    apart."""
    dts = {v: x.schema[v].dataType for v in value_vars}
    g, vq = [*map(_q, group_vars)], [*map(_q, value_vars)]
    width = f"({width})"
    bounds = ws, we, ln = _bounds(width)
    xs, xe = (f"CAST({_q(c)} AS BIGINT)" for c in interval_vars)
    base = x.selectExpr(*g, *vq, f"{xs} AS __xs", f"{xe} AS __xe",
                        f"{fdiv_sql(xs, width)} AS __k0", f"{fdiv_sql(xe, width)} AS __k1")

    # --- boundary windows: first and last window of each interval
    pieces = base.selectExpr(
        *g, *vq, "__xs", "__xe", "explode(array_distinct(array(__k0, __k1))) AS __k",
    ).selectExpr(*g, *vq, "__k", f"greatest(__xs, {ws}) AS __os", f"least(__xe, {we}) AS __oe")
    boundary = _fold_pieces(pieces, group_vars, ["__k"], bounds, dts)

    # --- interior windows: fully covered by this single interval
    interior = [*g, f"{ws} AS ws", f"{we} AS we", f"{ln} AS xduration",
                f"{ws} AS xminstart", f"{we} AS xmaxend"]
    for v, qv in zip(value_vars, vq):
        na = f"CASE WHEN {qv} IS NULL THEN"
        interior += [
            f"{na} {_zero(dts[v])} ELSE {_wv_sql(ln, qv, dts[v])} END AS {_q('sum_wv_', v)}",
            f"{na} 0L ELSE {ln} END AS {_q('nobs_', v)}",
            *(f"{na} {ln} ELSE 0L END AS {_q(p, v)}" for p in ("prefix_", "suffix_", "best_")),
        ]
    return boundary.unionByName(base.filter("__k1 > __k0 + 1").selectExpr(
        *g, *vq, "explode(sequence(__k0 + 1, __k1 - 1)) AS __k").selectExpr(*interior))


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
    SQL ``CASE`` on the tier and the tier added to the window and group
    keys. Rows of tier ``t`` equal ``rollup_from_raw(x, widths[t], …)``
    (tested). One plan instead of one per tier: x is scanned once, the
    boundary windows of all tiers share one exchange, and the result is
    persisted, counted and written once."""
    # the tier names as SQL string literals
    lits = ["'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in widths]
    width = " ".join(["CASE tier", *(f"WHEN {t} THEN {w}" for t, w in zip(lits, widths.values())),
                      "END"])
    tagged = x.selectExpr("*", f"explode(array({', '.join(lits)})) AS tier")
    return rollup_from_raw(tagged, width, value_vars, [*group_vars, "tier"])


def rollup_cascade(
    state: DataFrame,
    from_width: int,
    to_width: int,
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
) -> DataFrame:
    """Tier-k → tier-(k+1): merge child states into parent windows.
    ``to_width`` must be a multiple of ``from_width`` (epoch-aligned tiling).

    Same window+aggregate shape as tier-1 (:func:`_state_agg`): each child
    covers v over ``[ws + prefix, we − suffix]`` and its inner best run
    competes as-is; an all-gap child contributes nothing (its gap is
    covered by its neighbors' gap terms)."""
    if to_width % from_width:
        raise ValueError(f"{to_width} not a multiple of {from_width}: tiers must tile")
    schema = state.schema
    parts = {}
    for v in value_vars:
        cov = f"CASE WHEN {_q('prefix_', v)} < we - ws + 1 THEN"
        parts[v] = (f"{cov} ws + {_q('prefix_', v)} END", f"{cov} we - {_q('suffix_', v)} END",
                    f"{cov} {_q('best_', v)} END", _q("sum_wv_", v), _q("nobs_", v),
                    _zero(schema[f"sum_wv_{v}"].dataType))
    width = f"({to_width})"
    rows = state.selectExpr("*", f"{fdiv_sql('ws', width)} AS __k")
    return _state_agg(rows, group_vars, ["__k"], _bounds(width), "ws",
                      ("xduration", "xminstart", "xmaxend"), parts)


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
    return _points(state, {v: v for v in value_vars}, [*map(_q, group_vars)],
                   (f"ws AS {_q(s_out)}", f"we AS {_q(e_out)}", "xminstart", "xmaxend"),
                   required_percentage)
