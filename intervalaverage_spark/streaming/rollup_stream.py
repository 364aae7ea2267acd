"""Structured-Streaming front door for the 1h tier: continuous ingestion of
web-page visit events → a per-(url, lang, hour-window) point aggregate.

The reference is pure batch (SURVEY.md §2.3 — no streams), and the
north-star's 1d/30d tiers are batch-incremental over checkpoints. But the
FIRST tier is naturally a streaming aggregation: visit rows arrive append-
only, and the 1h state is a plain windowed aggregate of POINT events (a
visit contributes its text_bytes at its timestamp; the inter-visit validity
interval only exists once the NEXT visit arrives, which is exactly what a
watermark models).

Design:
  * event-time window  = ``window(warc_ts, "1 hour")`` tumbling;
  * watermark bounds state: visits later than ``delay`` past the max seen
    event time are dropped (at 10^12 rows unbounded state is fatal);
  * the output is the POINT-event projection of an hour —
    ``(group, ws, we, sum_v, n_obs, t_min, t_max)`` — not the interval tier
    state: a visit's validity interval only exists once the next visit
    arrives. The caller picks the sink: ``q_streaming_hourly_events`` runs
    it into a complete-mode memory sink and checks it against its oracle.

This is append-only + windowed agg + watermark — Spark's native streaming
sweet spot; no applyInPandasWithState needed for tier 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_hourly_state(
    visits: DataFrame,
    delay: str = "2 hours",
    value_col: str = "text_bytes",
    group_vars: tuple[str, ...] = ("url", "lang"),
    ts_col: str = "warc_ts",
) -> DataFrame:
    """visits (streaming DF with group, event-time and value cols) →
    streaming 1h point-state aggregate; the caller chooses the sink and
    its output mode (``writeStream``)."""
    gv = list(group_vars)
    src = visits.withWatermark(ts_col, delay)
    # DecimalType values keep exact (order-independent) sums — the same
    # exact-arithmetic contract as the batch tiers (operators/tiers.py
    # _wv_sql); everything else sums as double.
    from pyspark.sql import types as T

    v = F.col(value_col)
    if not isinstance(visits.schema[value_col].dataType, T.DecimalType):
        v = v.cast("double")
    return (
        src.groupBy(*gv, F.window(ts_col, "1 hour").alias("w"))
        .agg(
            F.sum(v).alias("sum_v"),
            F.count(v).alias("n_obs"),
            F.min(ts_col).alias("t_min"),
            F.max(ts_col).alias("t_max"),
        )
        .select(
            *gv,
            F.unix_timestamp("w.start").alias("ws"),
            (F.unix_timestamp("w.end") - 1).alias("we"),
            "sum_v", "n_obs", "t_min", "t_max",
        )
    )
