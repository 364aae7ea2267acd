"""Structured-Streaming front door for the 1h tier: continuous ingestion of
web-page visit events → per-(url, lang, hour-window) mergeable tier state.

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
  * the sink is the same parquet layout the batch cascade reads —
    ``foreachBatch`` upserts per-window partial states, so the 1d/30d
    batch tiers (rollup_cascade) consume streaming output unchanged.
    Streaming state carries (sum_wv, nobs, n_visits, t_min, t_max) which
    is the POINT-event projection of the tier state (intervals need the
    next visit; the batch repair pass converts closed hours to interval
    semantics exactly once the hour is sealed by the watermark).

This is append-only + windowed agg + watermark — Spark's native streaming
sweet spot; no applyInPandasWithState needed for tier 1 (the interval
derivation that WOULD need custom state is deferred to the sealed-hour
batch repair, which reuses the exact batch operators instead of a second
implementation that could drift).
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
    streaming 1h point-state aggregate. Output mode: update/append via
    ``writeStream`` (caller chooses sink; see :func:`write_hourly_state`).
    """
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


def write_hourly_state(
    state: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
):
    """Sink the streaming 1h state as parquet partitioned by ws-day —
    the same layout the batch cascade scans. Returns the StreamingQuery."""
    writer = (
        state.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
