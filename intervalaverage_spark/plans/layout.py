"""Physical table layout: time-bucket × url-hash partitioning.

north_rule: "explicit time-bucket × url-hash partitioning". Every tier
state table is written as

    path/d=<day-bucket>/p=<url-hash-bucket>/part-*.parquet

* ``d = floor(ws / 86400)`` — tier windows never span days for widths that
  tile a day (1h, 1d); the 30d tier uses its own window start's day, so a
  time-range predicate prunes to the exact day directories.
* ``p = pmod(xxhash64(url), n_buckets)`` — the resume/skew unit shared with
  plans/checkpoint.py; a url-targeted read touches one directory per day.

Readers push both dimensions down as PARTITION filters (directory pruning —
zero data read outside the range), and Catalyst additionally pushes row
filters into the parquet scan (``PushedFilters`` on ws/url). This is the
Iceberg-style layout of BASELINE.json expressed in plain partitioned
parquet (the container has no Iceberg runtime; the layout, pruning and
rewrite granularity are the same idea: partition-level metadata pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.plans.checkpoint import with_bucket, write_partitioned
from intervalaverage_spark.plans.rangejoin import fdiv

DAY = 86400


def write_tier(
    state: DataFrame,
    path: str,
    n_buckets: int = 32,
    url_col: str = "url",
    ws_col: str = "ws",
) -> None:
    """Write a tier state table in the (d, p) layout. Idempotent per
    partition (dynamic overwrite) — the exact-resume rewrite unit."""
    df = state
    if "p" not in df.columns:
        df = with_bucket(df, url_col, n_buckets)
    write_partitioned(df.withColumn("d", fdiv(F.col(ws_col), DAY)), path, ("d", "p"))


def read_tier(
    spark: SparkSession,
    path: str,
    t_lo: int | None = None,
    t_hi: int | None = None,
    buckets: list[int] | None = None,
    width: int = 1,
) -> DataFrame:
    """Scan a tier with partition pruning: a [t_lo, t_hi] epoch-second
    range becomes a day-directory filter; ``buckets`` prunes url-hash
    directories. Both land in the scan's PartitionFilters (check with
    ``.explain``) — no data outside the range is opened.

    ``width`` is the tier's window width in seconds. ``d`` partitions on
    the window START day, so a window [ws, ws+width−1] overlaps
    [t_lo, t_hi] iff ``ws ≥ t_lo − width + 1`` — the lower day bound is
    widened accordingly, or tiers wider than a day (30d) would silently
    drop windows that start before t_lo but still cover it. The default
    width=1 means "ws in range" point semantics."""
    df = spark.read.parquet(path)
    if t_lo is not None:
        df = df.filter(F.col("d") >= (t_lo - width + 1) // DAY)
    if t_hi is not None:
        df = df.filter(F.col("d") <= t_hi // DAY)
    if buckets is not None:
        df = df.filter(F.col("p").isin([int(b) for b in buckets]))
    return df
