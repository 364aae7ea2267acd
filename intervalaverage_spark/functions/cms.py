"""Count-min sketch: fixed-size frequency estimation over unbounded keys.

The frequency twin of the Bloom membership filter (functions/bloom.py):
where Bloom answers "have I seen this key?", the CMS answers "about how
many times?" in ``depth × width`` counters NO MATTER HOW MANY distinct
keys flow through — the sketch a 100 TB token stream can afford when
the exact vocabulary relation (functions/vocab.py) is itself too big to
keep hot, and the classic primitive behind heavy-hitter detection,
stopword discovery at ingest, and per-key rate limiting.

* :func:`cms_build` — each observation increments one counter per row
  ``i ∈ [0, depth)`` at column ``md5(seed ␟ i ␟ key) mod width``; the
  aggregate is a map-side-combined ``groupBy(row, col).sum(weight)``,
  so each task emits at most ``depth·width`` rows regardless of its
  input (the same bounded-relation argument as bloom_build / E50).
* :func:`cms_estimate` — JOIN path: a key's estimate is the MIN over
  its ``depth`` counters (absent counter = 0). Pure integer
  arithmetic; the DuckDB oracle replays it exactly.
* :func:`cms_estimate_broadcast` — SCALE path: the counter matrix
  (``depth·width`` int64, e.g. 4×2^16 = 2 MiB) broadcasts; positions
  derive JVM-side and only the numpy gather+min runs in an Arrow
  batch. Exactly equal to the join path (integer ops — no rounding
  freedom).

Guarantees (standard CMS): estimates NEVER undercount —
``est ≥ true``; with ``width = ⌈e/ε⌉`` and ``depth = ⌈ln 1/δ⌉``,
``est ≤ true + ε·N`` with probability ≥ 1−δ (N = total stream weight).
The one-sided error is the useful direction for heavy hitters: a key
the sketch says is rare IS rare.

Determinism: same ``md5(seed ␟ i ␟ key)`` first-48-bits arithmetic as
the Bloom filter and md5_uniform — no RNG, no partitioning dependence,
identical in Spark, DuckDB, and numpy.

The reference has no sketch surface (SURVEY.md §2.3) — web-text
pipeline extension (north_rule axes A+B).
"""

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.bloom import _positions, bit_position
from intervalaverage_spark.validation import IntervalSchemaError, _aliased, _plus


def _check(width: int, depth: int) -> None:
    if width < 2:
        raise IntervalSchemaError(f"width must be >= 2, got {width}")
    if not 1 <= depth <= 16:
        raise IntervalSchemaError(f"depth must be in [1, 16], got {depth}")


def _counters(width: int, depth: int, seed: str) -> Column:
    """The array of the entered column ``key``'s ``depth`` counters: in
    row ``i``, column :func:`~intervalaverage_spark.functions.bloom.
    bit_position` ``i`` mod ``width``."""
    return F.array(*(F.struct(F.lit(i).alias("row"),
                              bit_position(F.col("key"), i, width, seed).alias("col"))
                     for i in range(depth)))


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int,
    depth: int,
    seed: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: ``(row, col, cnt)`` with every observation's
    weight (default 1) summed into ``depth`` counters. ≤ depth·width
    rows. ``weight_col`` supports pre-aggregated input (key, count) —
    building from the exact vocab relation instead of the raw stream
    gives the identical sketch for a fraction of the explode."""
    _check(width, depth)
    weight = {} if weight_col is None else {"w": weight_col}
    w = F.col("w") if weight else F.lit(1)
    return (
        _aliased(df, {"key": key_col, **weight})
        .select(F.explode(_counters(width, depth, seed)).alias("rc"), w.cast("long").alias("w"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    key_col: str,
    cms: DataFrame,
    width: int,
    depth: int,
    seed: str = "",
    out_col: str = "cms_est",
) -> DataFrame:
    """JOIN-path estimate: append ``out_col`` = min over the key's
    ``depth`` counters (0 where no counter exists). The
    oracle-replayable reference semantics. The key column comes first,
    as in a join using it."""
    _check(width, depth)
    e, back = _plus(keys, {"key": key_col}, [out_col])
    probes = (
        e.select("key").distinct()
        .select("key", F.explode(_counters(width, depth, seed)).alias("rc"))
        .select("key", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    )
    est = (
        probes.join(F.broadcast(cms), ["row", "col"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )
    j = keys.columns.index(key_col)
    return e.join(est, "key", "left").select(
        F.col("key").alias(key_col), *back[:j], *back[j + 1:], F.col("est").alias(out_col))


def cms_to_array(cms: DataFrame, width: int, depth: int):
    """Collapse the counter relation into a ``(depth, width)`` numpy
    int64 matrix — the broadcastable form. Bounded by the SKETCH size,
    never the stream (same class as the Bloom word collect)."""
    _check(width, depth)
    arr = np.zeros((depth, width), dtype=np.int64)
    for r in cms.collect():
        arr[int(r["row"]), int(r["col"])] = int(r["cnt"])
    return arr


def cms_estimate_broadcast(
    keys: DataFrame,
    key_col: str,
    cms_arr,
    width: int,
    depth: int,
    seed: str = "",
    out_col: str = "cms_est",
) -> DataFrame:
    """SCALE-path estimate: the counter matrix rides a Spark broadcast;
    positions derive JVM-side (identical md5 expressions to the join
    path) and only the gather+row-min runs in an Arrow-batched pandas
    UDF. Zero shuffle on the probe stream; bit-exact equal to
    :func:`cms_estimate`."""
    from pyspark.sql.functions import pandas_udf

    _check(width, depth)
    mat = np.asarray(cms_arr, dtype=np.int64)
    if mat.shape != (depth, width):
        raise IntervalSchemaError(
            f"cms_arr has shape {mat.shape}, expected {(depth, width)}")
    e, back = _plus(keys, {"key": key_col}, [out_col])
    bc = keys.sparkSession.sparkContext.broadcast(mat)

    @pandas_udf("long")
    def _est(positions: pd.Series) -> pd.Series:
        m = bc.value
        if not len(positions):
            return pd.Series([], dtype="int64")
        cols = np.stack(positions.to_numpy())          # (batch, depth)
        rows = np.arange(cols.shape[1])                # gather row i at col_i
        return pd.Series(m[rows, cols].min(axis=1))

    # asNondeterministic: pure, like ann's broadcast UDFs; the marker only
    # pins a single evaluation under downstream filters
    return e.select(*back, _est.asNondeterministic()(_positions(width, depth, seed)).alias(out_col))


def cms_error_theory(n_total: int, width: int, depth: int) -> tuple[float, float]:
    """Textbook bound: (ε·N, δ) with ε = e/width, δ = e^−depth — the
    additive overcount ceiling and its failure probability."""
    import math

    return (math.e / width) * n_total, math.exp(-depth)
