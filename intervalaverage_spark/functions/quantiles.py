"""Fixed-bin histogram sketch: mergeable quantiles in bounded space.

Completes the sketch family's fourth axis (bloom.py = membership,
cms.py = frequency, hll.py = cardinality, here = DISTRIBUTION SHAPE):
"what is p50/p95/p99 of this metric?" in ``bins`` integer counters no
matter how many points flow through — per-metric latency percentiles,
per-tier rollup health bands, per-source document-length profiles,
all without the full sort an exact percentile needs.

* :func:`hist_registers` — each value maps to a bin by ONE canonical
  float expression ``floor((v − lo) / width)`` clamped into
  ``[0, bins)``; the sketch is ``groupBy(bin).count()`` — map-side
  combined, ≤ ``bins`` rows per group regardless of input (the
  bounded-relation argument of the whole family). ``group_cols``
  gives one sketch per group.
* :func:`hist_merge`     — bin-wise SUM of two sketches == the sketch
  of the concatenation. Integer addition: exact, order-free,
  engine-portable — shards sketch independently, the reduce is
  trivial (contrast t-digest/GK, whose merges are order-sensitive
  and not cross-engine reproducible; that is why THIS shape).
* :func:`hist_quantiles` — for each requested ``q``: walk the
  cumulative counts to the first bin whose running total reaches
  ``q·n``, then interpolate linearly inside that bin. Error ≤ one
  bin width by construction (the estimate lives in the same bin as
  the true quantile whenever values are in range).

Cross-engine exactness (why the oracle can hash-match a float
estimate): binning is one fixed-order IEEE expression identical in
Spark and DuckDB; counts and cumulative sums are integers; the final
estimate ``lo + width·(bin + (q·n − cum_before)/cnt)`` is a single
fixed-order float expression rounded to 6 dp on both sides. No
data-dependent summation order anywhere.

Saturation semantics: values below ``lo`` land in bin 0, values at or
above ``hi`` land in the top bin — the sketch never drops a point, but
quantiles that fall in a saturated edge bin are only bounded by that
bin's range. Callers size ``[lo, hi)`` from domain knowledge (the
events fixture's value column spans [0, ~561] across scale factors;
the flagship query uses [0, 1024) × 512 bins = 2-unit resolution).
NULL values are excluded (and excluded from ``n``), matching what
exact ``percentile`` does.

Scale notes (10^9 points): the only shuffle is the bin fold, whose
traffic is ≤ groups × bins rows per task after map-side combine;
quantile extraction walks ≤ bins rows per group. Nothing about the
input's size survives the map side. The reference has no sketch
surface (SURVEY.md §2.3) — timeseries-tier extension (north_rule axes
A+B). Spark's own ``approx_percentile`` is the built-in alternative;
this operator exists where the HISTOGRAM must be first-class data —
persisted per ingest batch, merged across shards/tiers, or compared
cross-engine — which the opaque built-in aggregate cannot give.
"""

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.validation import IntervalSchemaError, _aliased, _no_collision, _roles


def _check(lo: float, hi: float, bins: int) -> float:
    if not hi > lo:
        raise IntervalSchemaError(f"need hi > lo, got [{lo}, {hi})")
    if not 2 <= bins <= 1 << 20:
        raise IntervalSchemaError(f"bins must be in [2, 2^20], got {bins}")
    return (hi - lo) / bins


def hist_bin(value: Column, lo: float, hi: float, bins: int) -> Column:
    """Bin index for ``value``: ``floor((v − lo) / width)`` clamped to
    ``[0, bins)``. One fixed-order float expression — identical text in
    the DuckDB oracle, so bin assignment is bit-exact cross-engine."""
    width = _check(lo, hi, bins)
    raw = F.floor((value.cast("double") - F.lit(lo)) / F.lit(width))
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("long")


def hist_registers(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Histogram sketch of ``value_col``: ``(*group_cols, bin, cnt)``,
    ≤ ``bins`` rows per group. NULL values are excluded."""
    _check(lo, hi, bins)
    groups = _roles("x", g=group_cols)
    _no_collision(["bin", "cnt"], list(groups.values()))
    e = _aliased(df, {**groups, "v": value_col}).where("v IS NOT NULL")
    return _fold(e.select(*groups, hist_bin(F.col("v"), lo, hi, bins).alias("bin")),
                 groups, F.count(F.lit(1)))


def _fold(e: DataFrame, groups: dict[str, str], cnt: Column) -> DataFrame:
    """The aggregate ``cnt`` per bin of ``e`` and entered group ``groups``
    (internal → user), under the user's names."""
    return (e.groupBy(*groups, "bin")
            .agg(cnt.alias("cnt"))
            .select(*(F.col(g).alias(c) for g, c in groups.items()), "bin", "cnt"))


def hist_merge(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Bin-wise sum: the sketch of the union of the two inputs. Exact —
    integer counters, any merge order."""
    groups = _roles("x", g=group_cols)
    cols = {**groups, "bin": "bin", "cnt": "cnt"}
    return _fold(_aliased(a, cols).unionByName(_aliased(b, cols)), groups, F.sum("cnt"))


def hist_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile estimates from a histogram sketch.

    Output: ``(*group_cols, q, hist_est, n_points)`` — one row per
    group × requested quantile. For each ``q``, the chosen bin is the
    FIRST (lowest) bin whose cumulative count reaches ``q·n``; the
    estimate interpolates linearly inside it:

        est = lo + width · (bin + (q·n − cum_before) / cnt)

    rounded to 6 dp. ``q = 0`` → left edge of the first occupied bin,
    ``q = 1`` → right edge of the last. Error ≤ ``width`` whenever the
    true quantile's value lies in ``[lo, hi)``.

    Plan shape: one window over the ≤ bins rows of each group's sketch
    (cumulative count), a tiny explode of the q literals, and a
    ``min_by`` fold — every relation bounded by groups × bins × |qs|.
    """
    width = _check(lo, hi, bins)
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise IntervalSchemaError(f"quantiles must be in [0, 1], got {q}")
    groups = _roles("x", g=group_cols)
    _no_collision(["q", "hist_est", "n_points"], list(groups.values()))
    gc = list(groups)
    w = Window.partitionBy(*gc).orderBy("bin")
    cum = (
        _aliased(sketch, {**groups, "bin": "bin", "cnt": "cnt"}).select(
            *gc,
            "bin",
            "cnt",
            F.sum("cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum"),
            F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("n_points"),
        )
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    cand = cum.select(
        *gc, "bin", "cnt", "cum", "n_points", F.explode(qarr).alias("q")
    )
    target = F.col("q") * F.col("n_points").cast("double")
    # first bin whose cumulative count reaches the target (q=0 degenerates
    # to the first occupied bin: target 0 ≤ every cum)
    hit = cand.where(F.col("cum").cast("double") >= target)
    est = F.round(
        F.lit(lo)
        + F.lit(width)
        * (
            F.col("bin").cast("double")
            + (target - (F.col("cum") - F.col("cnt")).cast("double"))
            / F.col("cnt").cast("double")
        ),
        6,
    )
    picked = hit.groupBy(*gc, "q").agg(
        F.min_by(est, F.col("bin")).alias("hist_est"),
        F.min("n_points").alias("n_points"),
    )
    return picked.select(*(F.col(g).alias(c) for g, c in groups.items()), "q", "hist_est", "n_points")
