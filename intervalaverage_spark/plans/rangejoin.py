"""Range (interval-overlap) join strategies — the engine's core primitive.

The reference's single-node kernel does a keyed binary-search non-equi join
(data.table ``on=c(groups, "end>=start", "start<=end")``,
R/intervalaverage_functions.R:427-429; R/intervalintersect.r:179-186).
Catalyst has no native range-join strategy: an equi+range join compiles to
SortMergeJoin on the equi keys with the range predicates as a post-filter,
and with few/hot/absent group keys it degenerates to
BroadcastNestedLoopJoin. At 100 TB that is the bottleneck, so we
manufacture equi keys:

**Bucketed range join** — pick a bucket width ``W``; explode each interval
across the time buckets it covers (``sequence(floor(s/W), floor(e/W))``),
equi-join on ``(groups…, bucket)``, re-apply the exact range predicate, and
keep each matched pair exactly once by accepting it only in the bucket that
contains the overlap start (``floor(greatest(xs,ys)/W) == bucket``). The
join is then a plain shuffled equi-join Catalyst handles with
SortMergeJoin + AQE, and partition pruning applies on the bucket column.

**Salting** — a hot group (hot domain in the north-star table) still lands
on one reducer. Two variants, same pair set (property-tested):

* uniform (``salt=k``): spread EVERY x row across k sub-keys, replicate
  EVERY y row k×. Simple, but the y-side blow-up taxes all the cold keys
  too — measured a net loss on this box (BENCH/NOTES.md) whenever skew is
  mild enough for AQE's skew-join split to absorb.
* hot-only (``salt=k, hot_threshold=t``): one lazy aggregate finds keys
  with > t x rows; ONLY those keys are salted/replicated (flag attached
  by broadcast join — the hot set is tiny by definition). Cold keys pay
  nothing; the hot reducer splits k ways. This is the variant to reach
  for when one domain holds a double-digit share of a 100 TB table and
  AQE's in-partition splitting isn't enough (it can't split a single
  key's sort group for the window-bearing consumers downstream).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fdiv(c: Column, w: int) -> Column:
    """Exact floor division for LongType, integer end-to-end.

    Spark's ``/`` on longs is double division — exact only below 2^53,
    which nanosecond-scale epochs exceed. ``cl − pmod(cl, w)`` is an exact
    multiple of ``w`` (pmod is non-negative), so truncating integral
    ``div`` equals floor division for any sign, with no float round-trip."""
    cl = c.cast("long")
    return F.call_function("div", cl - F.pmod(cl, F.lit(w)), F.lit(w))


def fdiv_sql(c: str, w: str) -> str:
    """:func:`fdiv` as SQL text over the SQL expressions ``c`` and ``w``."""
    return f"div(CAST({c} AS BIGINT) - pmod(CAST({c} AS BIGINT), {w}), {w})"


def estimate_bucket_width(
    x: DataFrame, start: str, end: str, sample_fraction: int = 16,
    cap: int = 100_000,
) -> int:
    """Heuristic bucket width ≈ p75 x-interval length: most intervals then
    hit 1-2 buckets, so the explode factor stays ~2 while buckets stay
    selective. ANY width is correct (it only shapes the plan), but the
    sample must be DETERMINISTIC so repeated jobs compile byte-identical
    plans: a ``.limit(n)`` prefix of an unordered source varies run to
    run, so instead keep the ~1/``sample_fraction`` of rows whose
    ``xxhash64(start, end)`` lands in residue 0 — order-independent,
    partition-independent, and pushed into the scan as a plain filter —
    and then cap the sample at the ``cap`` LOWEST hashes (a TakeOrdered:
    each task keeps at most ``cap`` rows, the driver merges), so the
    percentile state is bounded no matter how large x is. The hash is
    uniform, so the lowest-hash subset is still an unbiased sample of
    interval lengths. The scan itself is pruned to the two interval
    columns; at true 10^12-row scale prefer passing ``bucket_width``
    explicitly (any data-derived width costs one pruned scan)."""
    s, e = F.col(start).cast("long"), F.col(end).cast("long")
    row = (
        x.select((e - s + 1).alias("__len"), F.xxhash64(s, e).alias("__h"))
        .filter(F.pmod(F.col("__h"), F.lit(sample_fraction)) == 0)
        .orderBy("__h", "__len")
        .limit(int(cap))
        .agg(F.percentile_approx("__len", 0.75).alias("p75"))
        .first()
    )
    w = int(row["p75"] or 1)
    return max(w, 1)


def range_join(
    x: DataFrame,
    y: DataFrame,
    x_interval: tuple[str, str],
    y_interval: tuple[str, str],
    group_vars: Sequence[str] | Mapping[str, str] = (),
    strategy: str = "auto",
    bucket_width: int | None = None,
    salt: int | None = None,
    hot_threshold: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join of every (x row, y row) pair whose closed intervals overlap
    within equal group keys: ``x.end >= y.start AND x.start <= y.end``.

    ``how="right"`` additionally keeps y rows with no overlapping x (their
    x-side columns null) — note that under the bucket strategy an
    unmatched y surfaces once per time bucket it covers (and a salted one
    once per salt replica), all x-null; aggregating callers group by y
    keys anyway, so the duplicates collapse and null x rows contribute
    nothing. This is what lets interval_average skip a second join-back
    for its unmatched-y semantics.

    ``group_vars`` may be a mapping {x_col: y_col} (named-vector semantics of
    the reference, R/intervalintersect.r:41-43). Columns from both sides are
    kept; callers must pre-alias name collisions. Strategies:

    - ``"sortmerge"``: direct non-equi join (Catalyst: SMJ on groups + range
      post-filter; BNLJ if no groups). Correct always; scales only when
      group keys are selective.
    - ``"bucket"``: bucketed equi-join described in the module docstring.
    - ``"auto"``: bucket when there are no group keys (BNLJ avoidance),
      else sortmerge (selective group keys are fine for SMJ; pass
      ``strategy="bucket"`` explicitly for low-cardinality/hot keys).

    ``salt=k`` spreads hot reducers k ways; with ``hot_threshold=t`` only
    group keys holding > t x rows are salted/replicated (module docstring —
    the variant that wins when skew is real).
    """
    xs, xe = x_interval
    ys, ye = y_interval
    gmap = dict(group_vars) if isinstance(group_vars, Mapping) else {g: g for g in group_vars}

    if strategy == "auto":
        strategy = "sortmerge" if gmap else "bucket"

    range_pred = (x[xe] >= y[ys]) & (x[xs] <= y[ye])

    if salt:
        x_salt = F.pmod(F.xxhash64(*[F.col(c) for c in (xs, xe, *gmap)]), F.lit(salt))
        if hot_threshold is not None:
            # hot-key-only: salt/replicate ONLY keys whose x frequency
            # exceeds the threshold. The hot set is attached by broadcast
            # join (lazy aggregate — tiny by definition of "hot"); both
            # sides agree on hotness per key, so the pair set is identical
            # (null group keys never match the hot set → salt 0 both sides,
            # consistent). Cold keys pay zero replication.
            if not gmap:
                raise ValueError("hot_threshold requires group keys")
            xkeys, ykeys = list(gmap), list(gmap.values())
            hot = (
                x.groupBy(*xkeys)
                .agg(F.count(F.lit(1)).alias("__ia_hcnt"))
                .filter(F.col("__ia_hcnt") > hot_threshold)
                .drop("__ia_hcnt")
                .withColumn("__ia_hot", F.lit(True))
            )
            x = x.join(F.broadcast(hot), on=xkeys, how="left").withColumn(
                "__ia_salt", F.when(F.col("__ia_hot"), x_salt).otherwise(F.lit(0))
            ).drop("__ia_hot")
            hot_y = hot
            for gx, gy in gmap.items():
                if gx != gy:
                    hot_y = hot_y.withColumnRenamed(gx, gy)
            y = y.join(F.broadcast(hot_y), on=ykeys, how="left").withColumn(
                "__ia_salt",
                F.explode(
                    F.when(F.col("__ia_hot"), F.sequence(F.lit(0), F.lit(salt - 1)))
                    .otherwise(F.array(F.lit(0)))
                ),
            ).drop("__ia_hot")
        else:
            # uniform: deterministic spread of x rows; y replicated k×
            x = x.withColumn("__ia_salt", x_salt)
            y = y.withColumn(
                "__ia_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
        gmap = {**gmap, "__ia_salt": "__ia_salt"}

    if how not in ("inner", "right"):
        raise ValueError(f"how must be 'inner' or 'right', got {how!r}")

    if strategy == "sortmerge":
        cond = range_pred
        for gx, gy in gmap.items():
            cond = x[gx].eqNullSafe(y[gy]) & cond
        out = x.join(y, cond, how)
    elif strategy == "bucket":
        w = bucket_width or estimate_bucket_width(x, xs, xe)
        xb = x.withColumn(
            "__ia_bucket",
            F.explode(F.sequence(fdiv(F.col(xs), w), fdiv(F.col(xe), w))),
        )
        yb = y.withColumn(
            "__ia_bucket",
            F.explode(F.sequence(fdiv(F.col(ys), w), fdiv(F.col(ye), w))),
        )
        cond = xb["__ia_bucket"] == yb["__ia_bucket"]
        for gx, gy in gmap.items():
            cond = cond & xb[gx].eqNullSafe(yb[gy])
        cond = cond & (xb[xe] >= yb[ys]) & (xb[xs] <= yb[ye])
        # each pair once: only in the bucket holding the overlap start
        cond = cond & (fdiv(F.greatest(xb[xs], yb[ys]), w) == xb["__ia_bucket"])
        # drop(str) removes BOTH sides' bucket columns (x's is null on
        # right-join-unmatched rows anyway)
        out = xb.join(yb, cond, how).drop("__ia_bucket")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if salt:
        out = out.drop("__ia_salt")
    return out
