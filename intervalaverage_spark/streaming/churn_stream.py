"""Streaming delta storage: keyed last-fingerprint state over a crawl
stream.

The streaming twin of :func:`intervalaverage_spark.functions.churn
.snapshot_changes` + ``filter(is_changed)``: as snapshots of a key
arrive, emit only those whose payload fingerprint differs from the
key's PREVIOUS snapshot — unchanged re-crawls are dropped at ingest,
before they cost storage or a tier rollup.

This is the engine's first ``applyInPandasWithState`` operator — the
one semantics the built-in stateful operators cannot express:
``dropDuplicatesWithinWatermark`` dedups by VALUE (it would drop the
second A of A→B→A; delta storage must keep it, because A is a NEW
version after B), and windowed aggregation has no "compare to previous
row" notion across micro-batches. Custom keyed state is exactly one
fingerprint string per key:

* state size: O(distinct keys), 32 hex chars each — the minimal state
  any change detector can carry; no timeline, no buffer;
* within a micro-batch, a key's rows are sorted (ts, fingerprint) —
  the same total order as the batch operator — and scanned
  vectorized-per-group (Arrow batches in, one pandas sort + shift per
  key, no per-row Python in the hot loop);
* ACROSS micro-batches, correctness assumes event-time-ordered arrival
  per key (true for replay/backfill and for an ingest stream
  partitioned by fetch time). Out-of-order arrival ACROSS batches is
  the documented boundary — the batch operator is the reconciliation
  path, exactly like the streaming 1h tier hands off to the batch
  tiers (streaming/rollup_stream.py).

Determinism: emitted rows are a pure function of the per-key ordered
snapshot sequence, so an availableNow bounded replay equals the batch
operator row-for-row — pinned in tests/test_round7.py and by the
driver oracle (same SQL as the batch delta row).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from intervalaverage_spark.functions.churn import _snapshots
from intervalaverage_spark.validation import INTEGRAL_TYPES, IntervalSchemaError

#: output rows: the kept (changed) snapshots
_OUT_SCHEMA = StructType([
    StructField("key", LongType()),
    StructField("ts", TimestampType()),
    StructField("fingerprint", StringType()),
])

#: keyed state: the last fingerprint seen (one 32-char string per key)
_STATE_SCHEMA = StructType([StructField("last_fp", StringType())])


def _delta_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_fp = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "fingerprint"], kind="mergesort")
        # vectorized run-head scan: a row survives if it differs from the
        # previous row in the sorted batch; the first row compares to the
        # fingerprint carried in state (None = no prior snapshot -> keep)
        prev = pdf["fingerprint"].shift(1)
        prev.iloc[0] = last_fp
        mask = prev.isnull() | (prev != pdf["fingerprint"])
        keep = pdf.loc[mask, ["key", "ts", "fingerprint"]]
        if len(keep) > 0:
            out.append(keep)
        last_fp = pdf["fingerprint"].iloc[-1]
    if last_fp is not None:
        state.update((last_fp,))
    if out:
        yield pd.concat(out)


def _keyed(src: DataFrame, key_col: str, ts_col: str, payload_col: str, delay: str) -> DataFrame:
    """The two streams' one entry: the batch ``(key, ts, fingerprint)``,
    the key as BIGINT. A key that is not integral raises at build time:
    the cast would merge keys 1.2 and 1.7, or fail mid-stream on a url."""
    e = _snapshots(src, key_col, ts_col, payload_col)
    if not isinstance(t := e.schema["key"].dataType, INTEGRAL_TYPES):
        raise IntervalSchemaError(
            f"key column {key_col!r} must be integral (the output key is BIGINT), "
            f"got {t.simpleString()}")
    return e.select(
        F.col("key").cast("long").alias("key"),
        # NTZ sources (plain parquet timestamps) cast to session-tz
        # TIMESTAMP: event-time watermarks reject TIMESTAMP_NTZ
        F.col("ts").cast("timestamp").alias("ts"),
        "fingerprint",
    ).withWatermark("ts", delay)


def streaming_snapshot_deltas(
    src: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Changed-snapshot filter over a STREAMING DataFrame.

    ``src`` must be a streaming DataFrame with an integral key (any other
    key type raises :class:`IntervalSchemaError`), a timestamp, and a
    payload. Returns the streaming DataFrame of kept rows
    ``(key, ts, fingerprint)`` — append mode; pair with any sink. The
    watermark bounds state-store eviction bookkeeping only (state here
    never grows past one fingerprint per key regardless).
    """
    keyed = _keyed(src, key_col, ts_col, payload_col, watermark_delay)
    return keyed.groupBy("key").applyInPandasWithState(
        _delta_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# Streaming decayed churn (E53): incremental recrawl-priority state
# ---------------------------------------------------------------------

#: per-key running totals, anchored at the KEY's latest snapshot
_CHURN_OUT_SCHEMA = StructType([
    StructField("key", LongType()),
    StructField("n_snapshots", LongType()),
    StructField("decayed_changes", DoubleType()),
    StructField("decayed_visit_mass", DoubleType()),
    StructField("last_ts_sec", LongType()),
])

#: keyed state: last fingerprint + timestamp + the two decayed sums
_CHURN_STATE_SCHEMA = StructType([
    StructField("last_fp", StringType()),
    StructField("last_ts_sec", LongType()),
    StructField("dc", DoubleType()),
    StructField("dv", DoubleType()),
    StructField("n", LongType()),
])


def _decayed_churn_factory(half_life_secs: float):
    """Build the per-key state function for a given half-life.

    The batch operator (functions/churn.py recrawl_priority) computes
    Σ 2^(−(as_of − t_i)/hl) over revisits at a GLOBAL anchor; a stream
    cannot know the global anchor mid-flight, so state carries the sums
    anchored at the KEY'S OWN latest snapshot — the standard incremental
    EWMA recurrence S ← S·2^(−Δt/hl) + x, re-anchored on every event.
    A finalize step rescales every key to the global anchor with one
    multiplication (the caller does it; see streaming_recrawl_priority
    in queries_pipeline.py).

    Within a micro-batch the recurrence is vectorized per key: with
    per-row decay d_i = 2^(−(t_i − t_{i−1})/hl) and running product
    P_i = Π_{k≤i} d_k, the batch-end sum is
    P_n · (S_state + Σ_i x_i / P_i) — two cumulative ops and a dot, no
    per-row Python. 1/P_i grows as 2^(batch_span/hl), so this is exact
    while a single micro-batch spans ≲ 1000 half-lives (a bounded
    replay of the 30-day fixture at hl=7d is 2^4.3; a real micro-batch
    spans seconds) — overflow would need a batch spanning ~20 years at
    a 1-week half-life, at which point use the batch operator.
    """
    import numpy as np

    hl = float(half_life_secs)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_fp, last_ts, dc, dv, n = state.get
        else:
            last_fp, last_ts, dc, dv, n = None, None, 0.0, 0.0, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "fingerprint"], kind="mergesort")
            ts = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
            fps = pdf["fingerprint"].to_numpy(dtype=object)
            first_ts = last_ts if last_ts is not None else int(ts[0])
            prev_fp = np.concatenate(([last_fp], fps[:-1]))
            prev_ts = np.concatenate(([first_ts], ts[:-1]))
            d = np.power(2.0, -(ts - prev_ts).astype("float64") / hl)
            is_rev = np.ones(len(pdf), dtype=bool)
            if last_fp is None:
                d[0] = 1.0          # a key's first-ever snapshot: no decay,
                is_rev[0] = False   # no revisit contribution
            chg = is_rev & (prev_fp != fps)
            p = np.cumprod(d)
            pn = float(p[-1])
            dv = pn * (dv + float(np.sum(is_rev.astype("float64") / p)))
            dc = pn * (dc + float(np.sum(chg.astype("float64") / p)))
            n += len(pdf)
            last_fp = str(fps[-1])
            last_ts = int(ts[-1])
        if last_fp is not None:
            state.update((last_fp, last_ts, float(dc), float(dv), int(n)))
            yield pd.DataFrame({
                "key": [key[0]], "n_snapshots": [n],
                "decayed_changes": [float(dc)],
                "decayed_visit_mass": [float(dv)],
                "last_ts_sec": [last_ts],
            })

    return fn


def streaming_decayed_churn(
    src: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
    half_life_secs: int = 7 * 86400,
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Incremental recrawl-priority state over a STREAMING DataFrame.

    Emits, per key per micro-batch, the running ``(n_snapshots,
    decayed_changes, decayed_visit_mass, last_ts_sec)`` — sums anchored
    at the key's own latest snapshot (state = one fingerprint, one
    timestamp, two doubles, one count per key). Totals are monotone in
    ``n_snapshots``: a downstream reader takes each key's max-n row and
    rescales to any global anchor with one ``2^(−Δ/hl)`` factor. Same
    integral-key rule and cross-micro-batch event-time-order contract as
    :func:`streaming_snapshot_deltas`; the batch operator
    (functions/churn.py recrawl_priority) is the reconciliation path.
    """
    keyed = _keyed(src, key_col, ts_col, payload_col, watermark_delay)
    return keyed.groupBy("key").applyInPandasWithState(
        _decayed_churn_factory(half_life_secs),
        outputStructType=_CHURN_OUT_SCHEMA,
        stateStructType=_CHURN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
