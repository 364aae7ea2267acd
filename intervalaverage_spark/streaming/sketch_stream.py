"""Streaming sketch maintenance: HLL registers as a native streaming agg.

The cardinality sketch (functions/hll.py) is EXACTLY the shape
Structured Streaming's stateful aggregation wants: the register fold
``groupBy(reg).max(rank)`` is an associative, idempotent aggregate
whose state is bounded at ``2^b`` rows NO MATTER HOW LONG THE STREAM
RUNS — no watermark needed (nothing ever expires; max only grows), no
custom ``applyInPandasWithState`` (contrast churn_stream.py, whose
EWMA recurrence genuinely needs custom state). "How many distinct
URLs/fingerprints has this crawl EVER seen?" becomes a 64-to-65536-row
state-store entry updated at ingest.

Spark-first by construction: the JVM state store maintains the per-
register max across micro-batches; Catalyst plans the same map-side
partial fold as the batch operator, so each micro-batch ships at most
``2^b`` rows to state. ``outputMode("complete")`` re-emits the full
(tiny) register table per batch — the right mode for a relation whose
size is a constant.

Equality contract: after an ``availableNow`` replay of a bounded
source, the emitted registers are IDENTICAL to the batch
:func:`~intervalaverage_spark.functions.hll.hll_registers` fold over
the same rows (max is order- and batching-insensitive) — pinned in
tests/test_round7c.py and by the driver oracle, which replays the
BATCH sketch SQL against the streamed result.
"""

from pyspark.sql import DataFrame

from intervalaverage_spark.functions.hll import hll_registers


def streaming_hll_registers(
    stream_df: DataFrame,
    key_col: str,
    b: int,
    seed: str = "",
) -> DataFrame:
    """Streaming register fold: the batch fold
    :func:`~intervalaverage_spark.functions.hll.hll_registers` verbatim —
    a pure select + groupBy + max, so Catalyst swaps in the
    state-store-backed aggregate when the input is a streaming relation.
    Use with ``outputMode("complete")`` — state ≤ 2^b rows by construction
    (same ``b`` bounds as the batch fold)."""
    return hll_registers(stream_df, key_col, b, seed)


def streaming_hist_registers(
    stream_df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming histogram fold (the distribution sketch of
    functions/quantiles.py maintained at ingest): ``groupBy(bin).count``
    against the state store — an associative counting aggregate whose
    state is bounded at groups × ``bins`` rows however long the stream
    runs; like the HLL fold it needs no watermark (counts only grow)
    and no custom state operator. "What is p95 ingest latency / doc
    length RIGHT NOW?" becomes a ≤ bins-row state entry updated per
    micro-batch; quantile extraction
    (:func:`~intervalaverage_spark.functions.quantiles.hist_quantiles`)
    runs on the emitted registers as a tiny batch step.

    Equality contract: after an ``availableNow`` replay of a bounded
    source, the emitted registers are IDENTICAL to the batch
    :func:`~intervalaverage_spark.functions.quantiles.hist_registers`
    fold over the same rows (counting is order- and
    batching-insensitive). Use with ``outputMode("complete")``.

    The batch fold IS the streaming fold — it is a pure
    select + groupBy + count, so this wrapper delegates to it verbatim;
    Catalyst swaps the hash aggregate for the state-store-backed one
    when the input is a streaming relation."""
    from intervalaverage_spark.functions.quantiles import hist_registers

    return hist_registers(
        stream_df, value_col, lo, hi, bins, group_cols=list(group_cols)
    )


def streaming_trend_moments(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: tuple[str, ...],
    t0_df: DataFrame,
) -> DataFrame:
    """Streaming OLS-trend moments (the E66 statistic maintained AT
    INGEST): the exact decimal fold ``(n, Σu, Σx, Σux, Σu², Σx²)`` as a
    native streaming aggregation — state is ONE ROW of decimal sums per
    key however long the stream runs, no watermark (sums only grow),
    no custom state operator. "Is this metric drifting, and how fast,
    RIGHT NOW?" becomes a per-key state entry updated per micro-batch;
    the closed forms (:func:`~intervalaverage_spark.operators.analytics.
    trend_from_moments`) run on the emitted moments as a tiny batch
    step.

    ``t0_df`` is the OFFLINE CALIBRATION artifact (the cusum mu/kappa/h
    deployment pattern): per-key centring references from
    :func:`~intervalaverage_spark.operators.analytics.trend_t0` over
    history — centring must be FIXED for the fold to be mergeable (a
    running min would re-centre past contributions). The stream-static
    inner join means only calibrated keys are monitored; ship new keys
    by appending calibration rows.

    Equality contract: after an ``availableNow`` replay of a bounded
    source, the emitted moments equal the batch
    :func:`~intervalaverage_spark.operators.analytics.trend_moments`
    fold bit-for-bit (decimal sums are associative and exact — order-
    and batching-insensitive), so stream slope/intercept/r² == batch
    trend EXACTLY, not approximately. Use ``outputMode("complete")``.

    The batch fold IS the streaming fold (select + join-static +
    groupBy of associative aggregates) — this wrapper delegates
    verbatim; Catalyst swaps in the state-store-backed aggregate when
    the input is a streaming relation."""
    from intervalaverage_spark.operators.analytics import (
        trend_moments,
        trend_points,
    )

    pts = trend_points(stream_df, ts_col, value_col, list(group_vars))
    return trend_moments(pts, list(group_vars), t0_df)
