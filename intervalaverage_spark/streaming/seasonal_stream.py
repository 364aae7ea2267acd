"""Streaming seasonal anomaly detection — the E79 baseline AT INGEST.

Deployment shape (the cusum_stream/streaming-trend pattern): the
per-(key, phase) mean/σ profile is computed OFFLINE
(:func:`~intervalaverage_spark.operators.analytics.seasonal_profile`,
keys × buckets rows — the nightly artifact) and the stream is a
STATELESS map against it: phase arithmetic, one stream-static equi
join (Catalyst broadcasts the tiny profile), and the decimal flag
compare. No state store, no watermark, no custom operator — of the
streaming members this is the cheapest possible: restart-safe by
construction because there is nothing to restore.

Contract difference from the batch detector, stated precisely: the
batch operator collapses duplicate (key, ts) observations to their
decimal mean BEFORE testing; a stream cannot collapse across
micro-batches, so THIS operator tests every arriving observation row
individually — "observation-level detection", which is what a live
alert wants anyway (two simultaneous spikes are two alerts, not one
averaged non-event). The driver oracle replays exactly that
observation-level semantics over the same rows, so an availableNow
replay equals the oracle row-for-row; equality against the batch
RUN of this same function is pinned in tests (the function is pure
expressions + a static join, so it runs identically on batch input).

Keys absent from the profile (or with σ NULL — single-point phases)
emit nothing: the monitored-key contract shared by every
calibrate-offline member.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from intervalaverage_spark.operators.analytics import _SEASONAL, _k_decimal, _phase, _seasonal_flag
from intervalaverage_spark.operators.changepoint import _DEC
from intervalaverage_spark.validation import enter_points


def streaming_seasonal_anomalies(
    stream_df: DataFrame,
    profile_df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    period: int = 86400,
    buckets: int = 24,
    k: float = 3.0,
) -> DataFrame:
    """Flag observations deviating > ``k``·σ from their phase bucket's
    offline baseline. ``profile_df`` must carry ``(*group_vars, phase,
    mean_v, sd_v)`` (:func:`seasonal_profile`'s schema; ``n_obs`` is
    ignored if present). Output: ``(*group_vars, ts_col, phase, x,
    mean_v, sd_v, rz)`` per anomalous OBSERVATION (see module
    docstring for the observation-level contract). Works identically
    on a batch ``stream_df`` — pure expressions + one static join."""
    op = "streaming_seasonal_anomalies"
    phase, kd = _phase(period, buckets, op), _k_decimal(k, op)
    e = enter_points(stream_df, ts_col, [value_col], group_vars, out=(ts_col, *_SEASONAL),
                     keyed=True)
    p = enter_points(profile_df, "phase", ["mean_v", "sd_v"], group_vars, label="profile ")
    g = e.cols("xg")
    pts = e.x.where("__xv0 IS NOT NULL").selectExpr(
        *g, "__xt0 AS __t", f"CAST(round(CAST(__xv0 AS DOUBLE), 6) AS {_DEC}) AS x")
    prof = p.x.selectExpr(*g, "__xt0 AS phase", "__xv0 AS mean_v", "__xv1 AS sd_v")
    return _seasonal_flag(e, pts, prof, ts_col, phase, kd)
