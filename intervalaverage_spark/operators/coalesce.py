"""Interval coalescing — merge overlapping/adjacent intervals per key.

The inverse companion of ``isolateoverlaps`` (operators/isolate.py):
where isolation fragments a self-overlapping set into atomic pieces,
coalescing fuses it into its minimal disjoint cover — the per-key union
of the intervals as a set of points. Classic gaps-and-islands:

  1. per key, sort by start; track the running max end seen so far
  2. a row starts a NEW island iff its start exceeds that running max
     by more than ``adjacency_gap`` + 1 (closed integer intervals:
     [1,3] and [4,7] touch, so gap 0 merges them; ``adjacency_gap=-1``
     restricts to true overlaps only)
  3. island id = running sum of the new-island flags; bounds = min/max
     per (key, island)

One window + one aggregate on the SAME key partitioning — a single
exchange, all whole-stage codegen, no join (the same plan shape as
operators/sessions.py, which is this operator on zero-length points).
The reference has no direct equivalent; its users build this from
``isolateoverlaps`` output — here it is one pass instead of
fragment+dedup+merge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.validation import Entry, _over, _q, enter

#: window frames of the running scans
_BEFORE = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
_UPTO = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _finish(ent: Entry, df: DataFrame, out: tuple[str, str], bounds: tuple[str, str],
            rest: tuple[str, ...], sort: bool) -> DataFrame:
    """``(*group_vars, *out, *rest)``: the groups under the user's names,
    the BIGINT SQL ``bounds`` as ``out`` (dates restored) and the SQL
    select items ``rest``; sorted by groups and start when ``sort``."""
    xg = ent.cols("xg")
    df = df.selectExpr(*ent.user(*xg), *map(ent.bound, bounds, out), *rest)
    return df.orderBy(*map(_q, [*ent.keys("x")[2], out[0]])) if sort else df


def interval_coalesce(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars_out: tuple[str, str] = ("start", "end"),
    adjacency_gap: int = 0,
    sort: bool = True,
) -> DataFrame:
    """Minimal disjoint cover of each key's intervals.

    Output: ``(*group_vars, start, end, n_intervals, covered)`` — one row
    per merged island; ``n_intervals`` counts the source rows fused into
    it, ``covered`` is the TRUE union size in points (each row contributes
    only what lies beyond the running max end — overlaps never double
    count; with ``adjacency_gap=0`` covered == end−start+1 always, with
    gap>0 the difference is exactly the tolerated uncovered run). DATE
    intervals coerce/restore like every operator.

    ``adjacency_gap``: islands split where the uncovered run between a
    row and everything before it exceeds this many units (0 = touching
    intervals merge; -1 = only true overlaps merge).
    """
    ent = enter(x, interval_vars, group_vars, out=(*interval_vars_out, "n_intervals", "covered"))
    if adjacency_gap < -1:
        raise ValueError(f"adjacency_gap must be >= -1, got {adjacency_gap}")
    xg = ent.cols("xg")
    order = "__xs, __xe"
    # __pm: the running max end before the row; a row past it by more than
    # the gap opens an island, and its NEW coverage is what lies past it
    # (0 if fully inside) — summing to the exact union size
    isl = ent.x.selectExpr(
        *xg, "__xs", "__xe", f"max(__xe) {_over(xg, order, _BEFORE)} AS __pm",
    ).selectExpr(
        *xg, "__xs", "__xe",
        f"sum(CASE WHEN __pm IS NULL OR __xs > __pm + 1 + {int(adjacency_gap)} THEN 1 ELSE 0 END) "
        f"{_over(xg, order, _UPTO)} AS __island",
        "greatest(0L, __xe - greatest(__xs, coalesce(__pm + 1, __xs)) + 1) AS __new_cov",
    )
    agg = isl.groupBy(*xg, "__island").agg(*map(F.expr, [
        "min(__xs) AS __os", "max(__xe) AS __oe", "count(1) AS n_intervals",
        "sum(__new_cov) AS covered"]))
    return _finish(ent, agg, interval_vars_out, ("__os", "__oe"), ("n_intervals", "covered"), sort)


def interval_gaps(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars_out: tuple[str, str] = ("gap_start", "gap_end"),
    min_gap: int = 1,
    sort: bool = True,
) -> DataFrame:
    """Maximal uncovered runs INSIDE each key's interval span — the
    complement of :func:`interval_coalesce` within ``[min start,
    max end]`` per key (leading/trailing uncovered time has no
    domain to be measured against, so it is by definition not a gap).

    Output: ``(*group_vars, gap_start, gap_end, gap_len)`` — one row
    per uncovered run of at least ``min_gap`` points (closed integer
    intervals: the gap between [1,3] and [7,9] is [4,6], length 3).
    DATE intervals coerce/restore like every operator. Together with
    coalesce the result tiles the span: islands ∪ gaps partition
    ``[min start, max end]`` exactly (pytest-pinned).

    Same plan as coalesce MINUS the aggregate: one window over the
    key partitioning, then a filter — a gap exists exactly where a
    row starts beyond the running max end of everything before it,
    so the gap rows are the island-break rows themselves. No join,
    no second shuffle; per-key cost is one sorted scan (the same
    shape the reference's users would need `isolateoverlaps` + R
    post-processing for — here it is one pass).

    Typical timeseries-tier uses: sensor-coverage holes ("which
    hours have no readings?"), retention-ledger audit (uncovered
    time between checkpointed tiers), crawl-snapshot staleness runs.
    """
    ent = enter(x, interval_vars, group_vars, out=(*interval_vars_out, "gap_len"))
    if min_gap < 1:
        raise ValueError(f"min_gap must be >= 1, got {min_gap}")
    xg = ent.cols("xg")
    g = ent.x.selectExpr(
        *xg, f"max(__xe) {_over(xg, '__xs, __xe', _BEFORE)} + 1 AS __gs", "__xs - 1 AS __ge",
    ).where(f"__gs IS NOT NULL AND __ge - __gs + 1 >= {int(min_gap)}")
    return _finish(ent, g, interval_vars_out, ("__gs", "__ge"), ("__ge - __gs + 1 AS gap_len",),
                   sort)


def interval_concurrency(
    x: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    interval_vars_out: tuple[str, str] = ("seg_start", "seg_end"),
    sort: bool = True,
) -> DataFrame:
    """Sweep-line concurrency profile: the step function "how many of
    this key's intervals are open at time t", as maximal constant-depth
    segments — the DEPTH member of the interval algebra (coalesce tells
    you covered-or-not; this tells you covered HOW MANY TIMES).

    Output: ``(*group_vars, seg_start, seg_end, n_open, seg_len)`` —
    one row per maximal run of constant depth ``n_open >= 1``; the
    segments of a key tile its coalesced islands exactly (uncovered
    time emits nothing), and adjacent segments always differ in depth
    (event points where openings exactly balance closings are dropped
    before the scan, so maximality is by construction). Closed integer
    intervals: [1,3] and [3,9] have depth 2 on [3,3]; DATE intervals
    coerce/restore like every operator. Duplicate rows are legal and
    count separately (depth is multiset coverage).

    Spark-first sweep line, no join and no iteration: each interval
    EXPLODES into two delta events (+1 at start, −1 at end+1 — one
    scan of the source, not a self-union), net deltas collapse per
    (key, t) and zero nets drop, then ONE key-partitioned window
    computes the running depth and each event's successor — prefix sum
    over ±1 events IS the sweep line. Plan shape: one explode (map
    side), one partial-aggregated exchange for the per-(key, t)
    collapse, one window sort; per-key cost is one sorted scan of its
    2× event points however long the history — the same scale story as
    coalesce/gaps, and the reason this is not the naive
    point-in-interval range join (which would shuffle x once per probe
    granularity).

    Typical web-crawl/timeseries uses: concurrent-fetch depth per host
    (politeness auditing), overlapping-session load per user, how many
    retention tiers cover an hour, max simultaneous validity versions.
    """
    ent = enter(x, interval_vars, group_vars, out=(*interval_vars_out, "n_open", "seg_len"))
    xg = ent.cols("xg")
    ev = ent.x.selectExpr(*xg, "inline(array(named_struct('__t', __xs, '__d', 1L), "
                               "named_struct('__t', __xe + 1, '__d', -1L)))")
    net = ev.groupBy(*xg, "__t").agg(F.expr("sum(__d) AS __delta")).where("__delta != 0")
    segs = net.selectExpr(
        *xg, "__t", f"sum(__delta) {_over(xg, '__t', _UPTO)} AS __depth",
        f"lead(__t) {_over(xg, '__t')} AS __nt",
    ).where("__depth >= 1")
    # every depth>=1 event has a successor: deltas sum to 0 per key and
    # the maximal t (= max end + 1, never also a start) is pure −1, so
    # the last event row always carries depth 0
    return _finish(ent, segs, interval_vars_out, ("__t", "__nt - 1"),
                   ("__depth AS n_open", "__nt - __t AS seg_len"), sort)
