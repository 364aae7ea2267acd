"""HyperLogLog: fixed-size distinct counting, mergeable across shards.

Completes the sketch trio (bloom.py = membership, cms.py = frequency,
here = CARDINALITY): "how many distinct keys?" in ``2^b`` one-byte-ish
registers no matter how many keys flow through — per-crawl distinct
URLs, per-language vocabulary size, per-shard dedup-rate estimation,
all without a ``countDistinct`` shuffle of the keys themselves.

* :func:`hll_registers` — each key hashes to 48 md5 bits; the low ``b``
  bits pick a register, the remaining ``48−b`` bits contribute
  ``rank = (48−b) − bitlength(w) + 1`` (the leading-zero count + 1);
  the sketch is ``groupBy(register).max(rank)`` — map-side combined,
  ≤ ``2^b`` rows per group regardless of input (the bounded-relation
  argument of the whole sketch family). ``group_cols`` gives one
  sketch per group (per-lang, per-shard).
* :func:`hll_merge`     — register-wise MAX of two sketches == the
  sketch of the union. THE property that makes HLL a distributed
  aggregate: shards sketch independently, the reduce is trivial.
* :func:`hll_estimate`  — the Flajolet HLL estimator with the standard
  small-range fallback: raw ``α_m·m²/Σ2^−M`` switches to linear
  counting ``m·ln(m/V)`` when ``raw < 2.5m`` and empty registers
  exist. Relative error ≈ ``1.04/√m``.

Cross-engine exactness (the reason this oracle can hash-match): the
rank is INTEGER arithmetic via ``length(bin(w))`` — identical in Spark
and DuckDB; each ``2^−M`` term is an exact dyadic double and the terms
span < 53 bits of precision, so their sum is exact in ANY order —
no summation-order caveat (contrast the IVF GEMM); the single final
divide/multiply/ln is one fixed-order float expression rounded to 6 dp
on both sides.

Scale notes (10^9 keys): the only shuffle is the register fold, whose
traffic is ≤ groups × 2^b rows per task; estimates aggregate ≤ 2^b
rows per group. Nothing about the input's size survives the map side.

The reference has no sketch surface (SURVEY.md §2.3) — web-text
pipeline extension (north_rule axes A+B). Spark's own
``approx_count_distinct`` is the built-in alternative; this operator
exists where the REGISTERS must be first-class data — persisted,
merged across ingest batches, or compared cross-engine — which the
opaque built-in aggregate cannot give.
"""

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.sampling import _md5_48
from intervalaverage_spark.validation import IntervalSchemaError, _aliased, _no_collision, _roles

#: md5-derived hash width (12 hex chars — same as the rest of the family)
HASH_BITS = 48


def _check(b: int) -> None:
    if not 4 <= b <= 16:
        raise IntervalSchemaError(f"b must be in [4, 16], got {b}")


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_rank(key: Column, b: int, seed: str = "") -> tuple[Column, Column]:
    """(register, rank) columns for ``key``: low ``b`` hash bits pick
    the register; rank = leading zeros of the remaining ``48−b`` bits
    + 1, computed as ``(48−b) − length(bin(w)) + 1`` — pure integer
    arithmetic, identical in Spark and DuckDB."""
    h = _md5_48(seed, key)
    m = 1 << b
    reg = h % F.lit(m)
    w = F.floor(h / F.lit(m)).cast("long")
    width = HASH_BITS - b
    rank = (F.when(w == 0, F.lit(width + 1))
            .otherwise(F.lit(width) - F.length(F.bin(w)) + 1)
            .cast("int"))
    return reg, rank


def hll_registers(
    df: DataFrame,
    key_col: str,
    b: int,
    seed: str = "",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Sketch ``df``: ``(group…, reg, max_rank)`` — ≤ 2^b rows per
    group, whatever the input size. max() is idempotent, so duplicate
    keys cost nothing and the fold combines map-side."""
    _check(b)
    groups = _roles("x", g=group_cols or [])
    _no_collision(["reg", "max_rank"], list(groups.values()))
    reg, rank = hll_rank(F.col("key"), b, seed)
    e = _aliased(df, {**groups, "key": key_col})
    return _fold(e.select(*groups, reg.alias("reg"), rank.alias("rank")), groups, "rank")


def _fold(e: DataFrame, groups: dict[str, str], rank: str) -> DataFrame:
    """The register-wise max of ``rank`` over ``e`` per entered group
    ``groups`` (internal → user), under the user's names."""
    return (e.groupBy(*groups, "reg")
            .agg(F.max(rank).alias("max_rank"))
            .select(*(F.col(g).alias(c) for g, c in groups.items()), "reg", "max_rank"))


def hll_merge(
    a: DataFrame,
    b_df: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Register-wise max — the sketch of the UNION of the two inputs.
    Shards sketch independently; merging is this one bounded fold."""
    groups = _roles("x", g=group_cols or [])
    cols = {**groups, "reg": "reg", "max_rank": "max_rank"}
    return _fold(_aliased(a, cols).unionByName(_aliased(b_df, cols)), groups, "max_rank")


def hll_estimate(
    registers: DataFrame,
    b: int,
    group_cols: list[str] | None = None,
    out_col: str = "hll_est",
) -> DataFrame:
    """Distinct-count estimate per group from a register sketch.

    Raw HLL ``α_m·m²/(Z + (m−V))`` where Z sums ``2^−max_rank`` over
    OCCUPIED registers and V = number of EMPTY ones (each contributing
    ``2^0 = 1``); falls back to linear counting ``m·ln(m/V)`` when
    ``raw < 2.5m`` and V > 0. All terms exact dyadic doubles (sum is
    order-independent), one fixed-order final expression, 6-dp rounded
    — the oracle replays it hash-exact."""
    _check(b)
    m = 1 << b
    groups = _roles("x", g=group_cols or [])
    _no_collision([out_col], list(groups.values()))
    # coalesce: a GLOBAL agg over an empty register relation still emits
    # one row with SUM = NULL — an empty sketch must estimate 0 (all m
    # registers empty → linear counting gives m·ln(m/m) = 0), not NULL
    agg = (_aliased(registers, {**groups, "max_rank": "max_rank"}).groupBy(*groups)
           .agg(F.coalesce(
                    F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))),
                    F.lit(0.0)).alias("__z_occ"),
                F.count(F.lit(1)).alias("__n_occ")))
    v = F.lit(m) - F.col("__n_occ")                      # empty registers
    z = F.col("__z_occ") + v.cast("double")              # each empty = 2^0
    raw = F.lit(_alpha(m) * m * m) / z
    est = F.when((raw < F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
                 ).otherwise(raw)
    return agg.select(*(F.col(g).alias(c) for g, c in groups.items()),
                      F.round(est, 6).alias(out_col))


def hll_error_theory(b: int) -> float:
    """Standard error of the HLL estimate: ``1.04/√m``."""
    _check(b)
    return 1.04 / math.sqrt(1 << b)
