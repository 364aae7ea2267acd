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

from intervalaverage_spark.plans.slices import time_sliced
from intervalaverage_spark.validation import IntervalSchemaError, _agg, _q, enter_points


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
    if gap < 0:
        raise IntervalSchemaError(f"gap must be >= 0, got {gap}")
    e = enter_points(df, ts_col, [], group_vars, out=[out_col], keep=True)
    t, gap = "CAST(__xt0 AS BIGINT)", int(gap)

    def merged(w: str) -> str:
        """A bucket merges iff its first time is within gap of the last time
        of the buckets before it (their max: times grow with the bucket)."""
        return f"CASE WHEN __min - max(__max) {w} <= {gap} THEN 1 ELSE 0 END"

    s = time_sliced(
        e.x, e.cols("xg"), t, bucket_width,
        window=lambda p: {"__lsid": (
            f"sum(CASE WHEN {t} - lag({t}) OVER ({p} ORDER BY {t}) <= {gap} THEN 0 ELSE 1 END) "
            f"OVER ({p} ORDER BY {t} ROWS UNBOUNDED PRECEDING)")},
        summary={"__min": f"min({t})", "__max": f"max({t})", "__n": "max(__lsid)"},
        back=lambda w: {"__smrg": merged(w), "__soff": f"coalesce(sum(__n - {merged(w)}) {w}, 0)"})
    sid = "__lsid" if bucket_width is None else "__soff + __lsid - __smrg"
    return s.selectExpr(*e.restore(*df.columns), f"{sid} AS {_q(out_col)}")


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
    sums = [f"sum_{value_col}"] if value_col else []
    out = ["session_id", "session_start", "session_end", "n_events", "duration", *sums]
    e = enter_points(df, ts_col, [value_col] if value_col else [], group_vars, out=out)
    g = e.cols("xg")
    s = sessionize(e.x, "__xt0", gap, g, bucket_width=bucket_width)
    aggs = {"session_start": "min(CAST(__xt0 AS BIGINT))",
            "session_end": "max(CAST(__xt0 AS BIGINT))", "n_events": "count(1)"}
    if value_col:
        aggs["__sum"] = "sum(__xv0)"
    return _agg(s, [*g, "session_id"], aggs).selectExpr(
        *e.user(*g), *out[:4], *(f"__sum AS {_q(c)}" for c in sums),
        "session_end - session_start + 1 AS duration")
