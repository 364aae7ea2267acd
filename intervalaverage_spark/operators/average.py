"""Time-weighted interval averaging — the flagship operator.

Reproduces ``intervalaverage::intervalaverage`` (reference:
R/intervalaverage_functions.R:201-489 + fused C++ kernel src/code.cpp:7-185)
as a lazy DataFrame plan:

    range join (x onto deduped y)  →  grouped aggregate  →  join-back to y

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

Scale notes: everything except maxgap is a plain shuffled partial-aggregate
(map-side combine, whole-stage codegen). maxgap uses the same window-
function gap-state formulation as the tier engine (operators/tiers.py
``_state_agg``): per covered row, the uncovered run ENDING at that row is
``os − previous covered oe − 1`` via ``max(...) over (rows unbounded
preceding, -1)``, seeded at ``ys − 1`` so the lead-in counts; the final
maxgap is ``greatest(max(run), ye − last covered oe)``. NA-value rows are
simply "not covered", which merges NA stretches with adjacent structural
gaps for free (src/code.cpp:145-156 semantics). Pure whole-stage codegen —
no collect_list, no higher-order fold, no per-y arrays — and the window's
partitioning is the exact (groups, ys, ye) exchange the groupBy reuses, so
it costs zero extra shuffles.

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
from pyspark.sql import types as T

from intervalaverage_spark.plans.rangejoin import range_join
from intervalaverage_spark.validation import (
    IntervalSchemaError,
    check_intervals,
    check_schema,
)

_EPOCH = "1970-01-01"


def _to_int_days(c: Column) -> Column:
    return F.datediff(c, F.lit(_EPOCH).cast("date")).cast("long")


def _from_int_days(c: Column) -> Column:
    return F.date_add(F.lit(_EPOCH).cast("date"), c.cast("int"))


def _prep(
    df: DataFrame,
    interval_vars: Sequence[str],
    s_alias: str,
    e_alias: str,
    keep: Sequence[str],
    is_date: bool,
) -> DataFrame:
    s, e = (F.col(interval_vars[0]), F.col(interval_vars[1]))
    if is_date:
        s, e = _to_int_days(s), _to_int_days(e)
    else:
        s, e = s.cast("long"), e.cast("long")
    return df.select(*keep, s.alias(s_alias), e.alias(e_alias))


def _wv_sql(w: str, v: str, dt: T.DataType) -> str:
    """The per-pair weighted-value term ``w·v`` as SQL text: ``w`` is a SQL
    expression, ``v`` a quoted column name of type ``dt``.

    DecimalType values accumulate EXACTLY: weights are integers, so
    ``Σ decimal(w·v)`` is order-free and engine-portable (the determinism
    contract the driver-compare queries rely on).

    Weight-magnitude contract: the weight (interval length) is cast to the
    WIDEST decimal the value precision leaves room for —
    ``decimal(min(37 − p, 19), 0)`` — so the product stays an exact
    decimal(38, s) (Spark multiply precision = p1 + p2 + 1). A value
    column of precision p therefore supports interval lengths up to
    10^min(37−p, 19) − 1 time units (p ≤ 18 covers any 64-bit length;
    p = 27, the max, still allows 10^10 − 1). Beyond that bound ANSI mode
    raises a cast error — loud, never a silently dropped term."""
    if not isinstance(dt, T.DecimalType):
        return f"({w}) * {v}"
    if dt.precision > 27:
        raise ValueError(
            f"decimal value columns need precision <= 27 (got {dt}); "
            "rescale so w*v fits decimal(38, s) exactly"
        )
    wprec = min(37 - dt.precision, 19)
    return f"CAST({v} * CAST({w} AS DECIMAL({wprec},0)) AS DECIMAL(38,{dt.scale}))"


def _mean_sql(swv: str, nobs: str, dt: T.DataType) -> str:
    """Σw·v / Σw as a double, over the SQL expressions ``swv`` and
    ``nobs``. Decimal sums are exact, so the quotient is a deterministic
    function of the data alone (cast-to-double then one IEEE division),
    independent of partitioning and engine."""
    if isinstance(dt, T.DecimalType):
        swv = f"CAST({swv} AS DOUBLE)"
    return f"{swv} / {nobs}"


def _q(*parts: str) -> str:
    """The column name ``parts`` joined, as a quoted SQL identifier."""
    return "`" + "".join(parts).replace("`", "``") + "`"


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

    xp = _prep(x, iv, "__ia_xs", "__ia_xe", [*group_vars, *value_vars], x_dates)
    yp_all = _prep(y, iv, "__ia_ys", "__ia_ye", group_vars, y_dates)
    yp = yp_all.dropDuplicates([*group_vars, "__ia_ys", "__ia_ye"])
    if validate:
        # ONE aggregation job for the dup warning (count + distinct-count
        # fused; the struct keeps null group keys countable — bare
        # count_distinct skips any-null rows)
        counts = yp_all.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(
                F.struct(*[F.col(c) for c in (*group_vars, "__ia_ys", "__ia_ye")])
            ).alias("nd"),
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
    # expressed directly — no second join-back needed: null-x rows
    # contribute nothing to any aggregate below, and the per-bucket
    # duplicates of an unmatched y collapse in the same groupBy).
    xg = [f"__ia_xg{i}" for i in range(len(group_vars))]
    xr = xp.select(
        *[F.col(g).alias(a) for g, a in zip(group_vars, xg)],
        *value_vars, "__ia_xs", "__ia_xe",
    )
    pairs = range_join(
        xr, yp,
        ("__ia_xs", "__ia_xe"), ("__ia_ys", "__ia_ye"),
        group_vars=dict(zip(xg, group_vars)),
        strategy=strategy, bucket_width=bucket_width, salt=salt,
        hot_threshold=hot_threshold,
        how="right",
    ).drop(*xg)

    # greatest/least SKIP nulls in Spark, so the right join's x-null rows
    # would otherwise clip to the full y window — gate on a matched x
    matched = F.col("__ia_xs").isNotNull()
    os_ = F.when(matched, F.greatest(F.col("__ia_xs"), F.col("__ia_ys")))
    oe_ = F.when(matched, F.least(F.col("__ia_xe"), F.col("__ia_ye")))
    w_sql = ("CASE WHEN __ia_xs IS NOT NULL "
             "THEN least(__ia_xe, __ia_ye) - greatest(__ia_xs, __ia_ys) + 1 END")
    w = F.expr(w_sql)
    gkeys = [*group_vars, "__ia_ys", "__ia_ye"]

    # maxgap gap-state (src/code.cpp:91-167 semantics, tiers.py:66-99
    # formulation): for each COVERED pair row, the uncovered run ending at
    # it = os − (max covered oe among earlier rows) − 1, seeded ys−1 so the
    # lead-in counts. x rows are non-overlapping, so ordering by xs orders
    # the clipped overlaps too. Shares the groupBy's exchange.
    wspec = (
        Window.partitionBy(*gkeys)
        .orderBy("__ia_xs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_cols = []
    for v in value_vars:
        nn = F.col(v).isNotNull()
        prev_end = F.max(F.when(nn, oe_)).over(wspec)
        gap_cols.append(
            F.when(nn, os_ - F.coalesce(prev_end, F.col("__ia_ys") - 1) - 1).alias(
                f"__ia_gap_{v}"
            )
        )
    pairs = pairs.select("*", *gap_cols)

    aggs = [
        F.sum(w).alias("__ia_xdur"),
        F.min(os_).alias("__ia_xmin"),
        F.max(oe_).alias("__ia_xmax"),
    ]
    for v in value_vars:
        nn = F.col(v).isNotNull()
        wv = F.expr(_wv_sql(w_sql, _q(v), x.schema[v].dataType))
        aggs.append(F.sum(F.when(nn, wv)).alias(f"__ia_swv_{v}"))
        aggs.append(F.sum(F.when(nn, w)).alias(f"__ia_nobs_{v}"))
        aggs.append(F.max(F.when(nn, oe_)).alias(f"__ia_last_{v}"))
        aggs.append(F.max(F.col(f"__ia_gap_{v}")).alias(f"__ia_maxg_{v}"))

    agg = pairs.groupBy(*gkeys).agg(*aggs)
    # tail run (ye − last covered oe, no −1: src/code.cpp:162-167) merged
    # with the best interior run; all-NA/no-match groups stay NULL and the
    # output coalesces them to yduration.
    mg = [
        F.greatest(
            F.col(f"__ia_maxg_{v}"), F.col("__ia_ye") - F.col(f"__ia_last_{v}")
        ).alias(f"__ia_mg_{v}")
        for v in value_vars
    ]
    joined = agg.select(
        *gkeys, "__ia_xdur", "__ia_xmin", "__ia_xmax",
        *[c for v in value_vars for c in (f"__ia_swv_{v}", f"__ia_nobs_{v}")],
        *mg,
    )

    ydur = (F.col("__ia_ye") - F.col("__ia_ys") + 1).cast("long")
    out_cols: list[Column] = [F.col(g) for g in group_vars]
    if y_dates:
        out_cols += [
            _from_int_days(F.col("__ia_ys")).alias(iv[0]),
            _from_int_days(F.col("__ia_ye")).alias(iv[1]),
        ]
    else:
        s_t = y.schema[iv[0]].dataType.simpleString()
        e_t = y.schema[iv[1]].dataType.simpleString()
        out_cols += [
            F.col("__ia_ys").cast(s_t).alias(iv[0]),
            F.col("__ia_ye").cast(e_t).alias(iv[1]),
        ]
    for v in value_vars:
        nobs = F.coalesce(F.col(f"__ia_nobs_{v}"), F.lit(0)).cast("long")
        avg = F.expr(_mean_sql(_q("__ia_swv_", v), _q("__ia_nobs_", v), x.schema[v].dataType))
        masked = F.when(
            (nobs > 0)
            & (F.lit(100.0) * nobs / ydur >= F.lit(float(required_percentage))),
            avg,
        ).cast("double")
        out_cols.append(masked.alias(v))
    out_cols.append(ydur.alias("yduration"))
    out_cols.append(F.coalesce(F.col("__ia_xdur"), F.lit(0)).cast("long").alias("xduration"))
    for v in value_vars:
        out_cols.append(
            F.coalesce(F.col(f"__ia_nobs_{v}"), F.lit(0)).cast("long").alias(f"nobs_{v}")
        )
    xmin, xmax = F.col("__ia_xmin"), F.col("__ia_xmax")
    if y_dates:
        xmin, xmax = _from_int_days(xmin), _from_int_days(xmax)
    out_cols += [xmin.alias("xminstart"), xmax.alias("xmaxend")]
    for v in value_vars:
        out_cols.append(
            F.coalesce(F.col(f"__ia_mg_{v}"), ydur).cast("long").alias(f"maxgap_{v}")
        )
    if keep_sums:
        out_cols += [F.col(f"__ia_swv_{v}").alias(f"sum_wv_{v}") for v in value_vars]

    out = joined.select(*out_cols)
    return out.orderBy(*group_vars, *iv) if sort else out


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
