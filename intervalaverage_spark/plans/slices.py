"""Time-sliced scans: the one hot-key path of the point-series operators.

``asof_join``, ``locf``/``nocb``/``interpolate_linear``, ``rate``,
``sessionize`` and ``rolling_decomposable`` are ordered scans per key — the
reference's kernel shape over data unique per key
(R/intervalaverage_functions.R:324-338). A window partitioned only by key
puts a hot key in one task. With ``bucket_width`` the scan is sliced by time
instead, and what a slice needs from the slices before (or after) it comes
from a table of one row per (key, bucket):

1. ``__sk`` = (keys, ``floor(order / width)``) as ONE struct, and the
   operator's window runs per slice (partitioned on ``__sk``);
2. ``summary`` aggregates each slice to one row, grouped by the keys and
   ``__sk`` — no exchange of its own when the input is already partitioned
   by the keys, or when it reads the window's columns;
3. ``back`` (``fwd``) reads the summaries through one window per direction
   over the key's earlier (later) buckets — ~n_buckets rows per key;
4. one join on ``__sk`` brings the carry back to each row of its slice.

The join is null-safe: struct equality matches NULL fields, so NULL keys
(and the NULL bucket of NULL times) keep their carry. A ``<=>`` per column
would plan the join on ``coalesce``/``isnull`` keys, which no window's
partitioning satisfies — one more exchange of every row.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.plans.rangejoin import fdiv_sql
from intervalaverage_spark.validation import IntervalSchemaError, _over

#: the (keys, bucket) struct of a slice
SK = "__sk"

Items = Callable[[str], Mapping[str, str]]


def time_sliced(
    df: DataFrame,
    keys: Sequence[str],
    order: str,
    width: int | None,
    window: Items,
    summary: Mapping[str, str],
    back: Items | None = None,
    fwd: Items | None = None,
) -> DataFrame:
    """``df`` plus the columns of ``window`` and, when ``width`` is set, of
    ``back`` and ``fwd``. ``keys`` and ``order`` are SQL expressions over
    ``df``; each ``Items`` maps output names to SQL text built around the
    clause it is given: ``window`` gets the partition clause of its OVER
    (the keys, or the slice when ``width`` is set), ``back``/``fwd`` get a
    whole OVER clause over the earlier/later buckets, and read the names of
    ``summary`` — aggregates of one slice's rows, ``window`` columns
    included."""
    if width is not None and width <= 0:
        raise IntervalSchemaError(f"bucket_width must be positive, got {width}")
    flat = width is None
    part = keys if flat else [SK]
    win = window(f"PARTITION BY {', '.join(part)}" if part else "")
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    scans = {} if flat else {a: e for f, d in ((back, ""), (fwd, " DESC")) if f
                             for a, e in f(_over(keys, f"{SK}.b{d}", frame)).items()}
    clash = {*win, *(() if flat else (SK, *summary, *scans))} & set(df.columns)
    if clash:
        raise IntervalSchemaError(f"internal column(s) {sorted(clash)} already exist in input")
    if flat:
        return df.selectExpr("*", *(f"{e} AS {a}" for a, e in win.items()))

    fields = [*(f"'k{i}', {k}" for i, k in enumerate(keys)), f"'b', {fdiv_sql(order, str(width))}"]
    sliced = (df.selectExpr("*", f"named_struct({', '.join(fields)}) AS {SK}")
              .selectExpr("*", *(f"{e} AS {a}" for a, e in win.items())))
    carry = sliced.groupBy(*map(F.expr, keys), SK).agg(
        *(F.expr(e).alias(a) for a, e in summary.items()))
    carry = carry.selectExpr(SK, *(f"{e} AS {a}" for a, e in scans.items()))
    return sliced.join(carry, SK, "left")
