"""Time-weighted interval averaging — the flagship operator.

Reproduces ``intervalaverage::intervalaverage`` (reference:
R/intervalaverage_functions.R:201-489 + fused C++ kernel src/code.cpp:7-185)
as a lazy DataFrame plan:

    range join (x onto deduped y)  →  window state fold  →  point projection

Semantics (all intervals closed, length = end-start+1):
  * one output row per deduplicated y row
  * per value var v over matched x rows with overlap ``os=max(xs,ys)``,
    ``oe=min(xe,ye)``, weight ``w=oe-os+1``:
      - v        = Σ(w·v | v not null) / Σ(w | v not null), masked to NULL
                   when nobs_v == 0 (NaN→NA, src/code.cpp:169 + :471-474) or
                   when 100·nobs_v/yduration < required_percentage
                   (strict <, R/intervalaverage_functions.R:466-469)
      - nobs_v   = Σ(w | v not null)            (src/code.cpp:137)
      - maxgap_v = longest run of structurally-uncovered or v-null time
                   inside [ys,ye], incl. lead-in (last_observed=ys-1 init,
                   src/code.cpp:91) and tail (ye-last_observed, no -1,
                   src/code.cpp:162-167); NA stretches merge with adjacent
                   structural gaps (src/code.cpp:145-156)
  * xduration = Σ w (all matched rows), xminstart = min(os),
    xmaxend = max(oe)   (src/code.cpp:118-127, 68-75)
  * unmatched y row: values NULL, xduration=0, nobs=0, xminstart/xmaxend
    NULL, maxgap = yduration   (src/code.cpp:32-50)

Scale notes: the fold and the point projection are the tier engine's
(operators/fold.py ``_state_agg`` and ``_points``). Each deduped y row is
a window ``[ys, ye]``, and its range-join pairs, clipped to it, are the
rows folded into its state — maxgap included, by the fold's gap-state
window, which shares the groupBy's (groups, ys, ye) exchange. A tier
(operators/tiers.py) is therefore this operator against a tier grid by
construction; the weight, mean and gap rules have one definition.

Exactness: when a value column is DecimalType, Σw·v accumulates in
DECIMAL (weights are exact integers) — order-independent and bit-identical
across engines/partitionings — and the mean is taken as
``double(Σw·v) / nobs``. Used by the driver-contract queries for
cross-engine value-hash stability; float columns keep plain double sums.
"""

from __future__ import annotations

import datetime
import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.operators.tiers import _fold_pieces, _points, _q
from intervalaverage_spark.plans.rangejoin import range_join
from intervalaverage_spark.validation import (
    IntervalSchemaError,
    check_intervals,
    check_schema,
)

_EPOCH = "1970-01-01"


def _from_int_days(c: Column) -> Column:
    return F.date_add(F.lit(_EPOCH).cast("date"), c.cast("int"))


def _prep(
    df: DataFrame,
    interval_vars: Sequence[str],
    s_alias: str,
    e_alias: str,
    keep: Sequence[str] | Mapping[str, str],
    is_date: bool,
) -> DataFrame:
    """The ``keep`` columns (or, for a mapping, each column under its
    alias) and the interval bounds as BIGINT ``s_alias``/``e_alias``; DATE
    bounds become days since the epoch. Any column name is accepted."""
    names = keep if isinstance(keep, Mapping) else {c: c for c in keep}
    bounds = [_q(c) for c in interval_vars]
    if is_date:
        bounds = [f"datediff({b}, DATE'{_EPOCH}')" for b in bounds]
    return df.selectExpr(
        *(_q(c) if c == a else f"{_q(c)} AS {_q(a)}" for c, a in names.items()),
        *(f"CAST({b} AS BIGINT) AS {a}" for b, a in zip(bounds, (s_alias, e_alias))),
    )


def interval_average(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    required_percentage: float = 100.0,
    skip_overlap_check: bool = False,
    validate: bool = True,
    strategy: str = "auto",
    bucket_width: int | None = None,
    salt: int | None = None,
    hot_threshold: int | None = None,
    keep_sums: bool = False,
    sort: bool = True,
    verbose: bool = False,
) -> DataFrame:
    """Time-weighted average of x's value columns onto y's intervals.

    ``interval_vars=(start,end)`` must name the same columns in x and y
    (named x→y mapping is forbidden for this operator, reference
    R/intervalaverage_functions.R:233-234 — a Mapping input raises
    IntervalSchemaError; named mappings are intersect-only). Returns one
    row per deduped y row with columns ``(*group_vars, *interval_vars,
    *value_vars, yduration, xduration, nobs_*, xminstart, xmaxend,
    maxgap_*)``.

    ``keep_sums`` appends the raw ``sum_wv_<v>`` numerators (exact when v
    is DecimalType) — the mergeable state a caller needs to re-derive or
    re-round the mean without float ambiguity, and what the tier cascade
    stores (operators/tiers.py state schema).

    ``sort=True`` (default) orders the output by (groups, interval) for
    reference key-order parity; ``sort=False`` skips the final global
    range-exchange + sort — use it whenever downstream is order-insensitive
    (writes, joins, aggregations): at scale that exchange is a full extra
    pass over the result.
    """
    if isinstance(interval_vars, Mapping):
        raise IntervalSchemaError(
            "interval_vars must be an unnamed (start, end) pair for "
            "interval_average — named x→y interval mappings are "
            "intersect-only (reference R/intervalaverage_functions.R:233-234)"
        )
    group_vars = list(group_vars)
    value_vars = list(value_vars)
    iv = list(interval_vars)
    x_dates = check_schema(x, iv, group_vars, value_vars)
    y_dates = check_schema(y, iv, group_vars)
    if x_dates != y_dates:
        raise ValueError("x and y interval columns must share a class (int vs date)")

    if validate:
        check_intervals(
            x, iv[0], iv[1], group_vars,
            require_non_overlapping=not skip_overlap_check,
            forbid_duplicates=True, label="x",
        )
        check_intervals(y, iv[0], iv[1], group_vars, label="y")
        if verbose:
            # reference prints timing breadcrumbs after each stage
            # (R/intervalaverage_functions.R:156, :335, :483)
            print(f"{datetime.datetime.now()} passed errorcheck: x is non-overlapping.")
    if verbose:
        print(
            f"{datetime.datetime.now()} interval_average: strategy={strategy} "
            f"bucket_width={bucket_width} salt={salt} (plan is lazy; stages "
            "execute on action)"
        )

    # group columns travel under internal names on both sides, so no group
    # name can collide with a join or state column (ws, we, …)
    xg = [f"__ia_xg{i}" for i in range(len(group_vars))]
    yg = [f"__ia_yg{i}" for i in range(len(group_vars))]
    xp = _prep(x, iv, "__ia_xs", "__ia_xe",
               {**dict(zip(group_vars, xg)), **{v: v for v in value_vars}}, x_dates)
    yp_all = _prep(y, iv, "__ia_ys", "__ia_ye", dict(zip(group_vars, yg)), y_dates)
    yp = yp_all.dropDuplicates([*yg, "__ia_ys", "__ia_ye"])
    if validate:
        # ONE aggregation job for the dup warning (count + distinct-count
        # fused; the struct keeps null group keys countable — bare
        # count_distinct skips any-null rows)
        counts = yp_all.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*yg, "__ia_ys", "__ia_ye")).alias("nd"),
        ).first()
        if counts["nd"] < counts["n"]:
            warnings.warn(
                f"y contained {counts['n'] - counts['nd']} duplicate rows; "
                "duplicates removed "
                "(reference: R/intervalaverage_functions.R:315-322)",
                stacklevel=2,
            )

    # --- RIGHT range join: x pairs onto deduped y, unmatched y kept with
    # null x columns (the reference's right-join semantics, :412-430,
    # expressed directly — no second join-back needed: null-x rows cover
    # nothing, and the per-bucket duplicates of an unmatched y collapse in
    # the fold's groupBy).
    pairs = range_join(
        xp, yp,
        ("__ia_xs", "__ia_xe"), ("__ia_ys", "__ia_ye"),
        group_vars=dict(zip(xg, yg)),
        strategy=strategy, bucket_width=bucket_width, salt=salt,
        hot_threshold=hot_threshold,
        how="right",
    )
    # each y row is a window and its pairs, clipped to it, the fold's
    # pieces; greatest/least SKIP nulls, so the unmatched rows would
    # otherwise clip to the full y window — gate on a matched x
    pieces = pairs.selectExpr(
        *yg, *map(_q, value_vars), "__ia_ys", "__ia_ye",
        "CASE WHEN __ia_xs IS NOT NULL THEN greatest(__ia_xs, __ia_ys) END AS __os",
        "CASE WHEN __ia_xs IS NOT NULL THEN least(__ia_xe, __ia_ye) END AS __oe",
    )
    # an empty Σw·v stays NULL (keep_sums)
    state = _fold_pieces(pieces, yg, ["__ia_ys", "__ia_ye"],
                         ("__ia_ys", "__ia_ye", "(__ia_ye - __ia_ys + 1)"),
                         {v: x.schema[v].dataType for v in value_vars}, zero="NULL")

    if y_dates:
        start, end, xmin, xmax = (
            f"date_add(DATE'{_EPOCH}', CAST({c} AS INT)) AS {_q(a)}"
            for c, a in zip(("ws", "we", "xminstart", "xmaxend"), (*iv, "xminstart", "xmaxend"))
        )
    else:
        start, end = (f"CAST({c} AS {y.schema[a].dataType.simpleString()}) AS {_q(a)}"
                      for c, a in zip(("ws", "we"), iv))
        xmin, xmax = "xminstart", "xmaxend"
    out = _points(state, value_vars, [f"{a} AS {_q(g)}" for a, g in zip(yg, group_vars)],
                  (start, end, xmin, xmax), required_percentage, sums=keep_sums)
    return out.orderBy(*map(_q, [*group_vars, *iv])) if sort else out


def interval_average_slow(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    required_percentage: float = 100.0,
) -> DataFrame:
    """Brute-force differential oracle: expand every interval to unit
    increments, equi-join on (group, t), plain means. Mirrors the
    reference's independent slow path (R/intervalaverage_functions.R:496-705,
    technicaloverview.Rmd:79) — intentionally a DIFFERENT algorithm from
    :func:`interval_average` (islands-trick maxgap instead of the fold).
    Test/small-scale use only (memory: one row per covered time unit).
    """
    group_vars = list(group_vars)
    value_vars = list(value_vars)
    iv = list(interval_vars)
    x_dates = check_schema(x, iv, group_vars, value_vars)
    y_dates = check_schema(y, iv, group_vars)

    xp = _prep(x, iv, "__s", "__e", [*group_vars, *value_vars], x_dates)
    yp = _prep(y, iv, "__s", "__e", group_vars, y_dates).dropDuplicates()

    xx = xp.select(
        *group_vars, *value_vars,
        F.explode(F.sequence("__s", "__e")).alias("__t"),
        F.lit(1).alias("__m"),
    )
    grid = yp.select(
        *group_vars, "__s", "__e", F.explode(F.sequence("__s", "__e")).alias("__t")
    )
    xg = [f"__xg{i}" for i in range(len(group_vars))]
    xxr = xx.select(*[F.col(g).alias(a) for g, a in zip(group_vars, xg)], *value_vars, "__t", "__m")
    cond = grid["__t"] == xxr["__t"]
    for g, a in zip(group_vars, xg):
        cond = grid[g].eqNullSafe(xxr[a]) & cond
    j = grid.join(xxr, cond, "left").drop(xxr["__t"]).drop(*xg)

    ykeys = [*group_vars, "__s", "__e"]
    aggs = [
        F.count("__m").alias("xduration"),
        F.min(F.when(F.col("__m").isNotNull(), F.col("__t"))).alias("__xmin"),
        F.max(F.when(F.col("__m").isNotNull(), F.col("__t"))).alias("__xmax"),
    ]
    for v in value_vars:
        aggs += [
            F.avg(v).alias(f"__avg_{v}"),
            F.count(v).alias(f"nobs_{v}"),
        ]
    agg = j.groupBy(*ykeys).agg(*aggs)

    # maxgap via gaps-and-islands over the dense unit grid
    for v in value_vars:
        unc = j.filter(F.col("__m").isNull() | F.col(v).isNull())
        wspec = Window.partitionBy(*ykeys).orderBy("__t")
        runs = (
            unc.withColumn("__grp", F.col("__t") - F.row_number().over(wspec))
            .groupBy(*ykeys, "__grp").agg(F.count("*").alias("__len"))
            .groupBy(*ykeys).agg(F.max("__len").alias(f"maxgap_{v}"))
        )
        rr = runs
        for k in ykeys:
            rr = rr.withColumnRenamed(k, f"__r_{k}")
        c = F.lit(True)
        for k in ykeys:
            c = c & agg[k].eqNullSafe(rr[f"__r_{k}"])
        agg = agg.join(rr, c, "left").drop(*[f"__r_{k}" for k in ykeys])

    ydur = (F.col("__e") - F.col("__s") + 1).cast("long")
    out: list[Column] = [F.col(g) for g in group_vars]
    if y_dates:
        out += [_from_int_days(F.col("__s")).alias(iv[0]), _from_int_days(F.col("__e")).alias(iv[1])]
    else:
        out += [
            F.col("__s").cast(y.schema[iv[0]].dataType.simpleString()).alias(iv[0]),
            F.col("__e").cast(y.schema[iv[1]].dataType.simpleString()).alias(iv[1]),
        ]
    for v in value_vars:
        nobs = F.col(f"nobs_{v}")
        out.append(
            F.when(
                (nobs > 0)
                & (F.lit(100.0) * nobs / ydur >= F.lit(float(required_percentage))),
                F.col(f"__avg_{v}"),
            ).cast("double").alias(v)
        )
    out += [ydur.alias("yduration"), F.col("xduration").cast("long").alias("xduration")]
    out += [F.col(f"nobs_{v}").cast("long").alias(f"nobs_{v}") for v in value_vars]
    xmin, xmax = F.col("__xmin"), F.col("__xmax")
    if y_dates:
        xmin, xmax = _from_int_days(xmin), _from_int_days(xmax)
    out += [xmin.alias("xminstart"), xmax.alias("xmaxend")]
    out += [
        F.coalesce(F.col(f"maxgap_{v}"), F.lit(0)).cast("long").alias(f"maxgap_{v}")
        for v in value_vars
    ]
    return agg.select(*out).orderBy(*group_vars, *iv)
