"""Gap-based sessionization — the crawl-burst / user-session operator.

The dual of the engine's maxgap statistic: where ``interval_average``
reports the longest uncovered run inside a window, sessionization
materializes the covered runs themselves — consecutive observations per
key whose gaps stay ≤ ``gap`` become one session (gaps-and-islands).

Plan: one window per key (lag + running sum of session-break flags) and,
for bounds, one aggregate sharing the SAME (key) partitioning — Catalyst
plans a single exchange for both. All codegen, no join, no UDF.

Skew (``bucket_width``): a session is defined by consecutive rows, so
the window cannot be NAIVELY time-sliced — but cross-bucket merging is
itself a gaps-and-islands problem at BUCKET granularity, run by
:func:`~intervalaverage_spark.plans.slices.time_sliced`:

1. sessionize within each ``(key, floor(t/width))`` bucket (hot key
   spreads across its time buckets);
2. per (key, bucket) summarize ``(min_t, max_t, n_sessions)`` — ONE row
   per bucket;
3. a bucket's first session continues the previous bucket's last session
   iff ``min_t − prev_max_t ≤ gap`` (exactly the flat break condition
   at the boundary row); the scan over the key's earlier buckets computes
   that flag plus the running global-id offset
   ``Σ (n_sessions − merged)`` over earlier buckets;
4. the carry joins back: ``session_id = offset + local_id − merged``.

Identical output to the flat path, NULL keys included (hypothesis-tested,
including the everything-merges ``gap ≥ width`` regime).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.plans.slices import time_sliced
from intervalaverage_spark.validation import IntervalSchemaError, _q


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: int,
    group_vars: Sequence[str],
    out_col: str = "session_id",
    bucket_width: int | None = None,
) -> DataFrame:
    """Append a 1-based ``session_id`` per key: a new session starts at
    the first row and whenever ``t - previous t > gap``. Rows with equal
    timestamps share a session (distance 0 ≤ gap). ``bucket_width``
    selects the time-sliced hot-key path (module docstring) — identical
    ids, spread windows."""
    group_vars = list(group_vars)
    for c in (ts_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"missing column {c!r}")
    if out_col in df.columns:
        raise IntervalSchemaError(f"output column {out_col!r} already exists")
    if gap < 0:
        raise IntervalSchemaError(f"gap must be >= 0, got {gap}")
    t, gap = f"CAST({_q(ts_col)} AS BIGINT)", int(gap)

    def merged(w: str) -> str:
        """A bucket merges iff its first time is within gap of the last time
        of the buckets before it (their max: times grow with the bucket)."""
        return f"CASE WHEN __min - max(__max) {w} <= {gap} THEN 1 ELSE 0 END"

    s = time_sliced(
        df, [*map(_q, group_vars)], t, bucket_width,
        window=lambda p: {"__lsid": (
            f"sum(CASE WHEN {t} - lag({t}) OVER ({p} ORDER BY {t}) <= {gap} THEN 0 ELSE 1 END) "
            f"OVER ({p} ORDER BY {t} ROWS UNBOUNDED PRECEDING)")},
        summary={"__min": f"min({t})", "__max": f"max({t})", "__n": "max(__lsid)"},
        back=lambda w: {"__smrg": merged(w), "__soff": f"coalesce(sum(__n - {merged(w)}) {w}, 0)"})
    sid = "__lsid" if bucket_width is None else "__soff + __lsid - __smrg"
    return s.selectExpr(*map(_q, df.columns), f"{sid} AS {_q(out_col)}")


def session_bounds(
    df: DataFrame,
    ts_col: str,
    gap: int,
    group_vars: Sequence[str],
    value_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """One row per session: start/end timestamps, event count, duration
    (closed-interval semantics: ``end - start + 1`` time units, matching
    the engine's interval length convention), and optionally the sum of
    ``value_col``. The groupBy reuses the window's (key) partitioning —
    still a single exchange (flat path); ``bucket_width`` passes through
    to :func:`sessionize` for the hot-key keying."""
    reserved = ["session_id", "session_start", "session_end", "n_events",
                "duration"] + ([f"sum_{value_col}"] if value_col else [])
    clash = [g for g in group_vars if g in reserved]
    if clash:
        raise IntervalSchemaError(
            f"group_vars {clash} collide with reserved output column names "
            f"{reserved}")
    if value_col is not None and value_col not in df.columns:
        raise IntervalSchemaError(f"missing column {value_col!r}")
    s = sessionize(df, ts_col, gap, group_vars, bucket_width=bucket_width)
    t = f"CAST({_q(ts_col)} AS BIGINT)"
    aggs = [f"min({t}) AS session_start", f"max({t}) AS session_end", "count(1) AS n_events"]
    if value_col is not None:
        aggs.append(f"sum({_q(value_col)}) AS {_q('sum_' + value_col)}")
    return (s.groupBy(*(F.expr(_q(c)) for c in [*group_vars, "session_id"]))
            .agg(*map(F.expr, aggs))
            .selectExpr("*", "session_end - session_start + 1 AS duration"))
