"""Series analytics: rate/derivative, time-range rolling aggregates,
windowed percentiles, trend and autocorrelation, cadence, seasonal
baselines and anomaly screens.

The read-side toolkit a monitoring/telemetry engine layers over tier
points (PromQL's rate/irate, SQL's RANGE-frame moving aggregates,
percentile panels). No UDFs; the only non-codegen node is the percentile
buffer (see :func:`windowed_percentiles` for the exact/approx trade-off).
Most operators are one window or groupBy per key; each docstring's "Scale
shape" states the exceptions — :func:`rolling_minmax` (two block windows
and a forward as-of), :func:`theil_sen` (a key-bounded pair self-join)
and :func:`robust_anomalies` (two key aggregates joined back).

Every operator enters through
:func:`~intervalaverage_spark.validation.enter_points`: its columns are
checked and aliased to internal names in one quoted projection, the
kernel is SQL text over those names, and the last projection restores
the user's — so any column name works. The (key, ts) collapse to a 6-dp
decimal mean is one helper (:func:`~intervalaverage_spark.operators.
changepoint._collapse`) for autocorr, theil_sen, the seasonal pair,
robust_anomalies and cusum.

Skew: a window partitioned only by the group key puts an entire hot key
in one task. :func:`rate` and :func:`rolling_decomposable` take
``bucket_width``: their windows run per ``(key, floor(t/width))`` through
:func:`~intervalaverage_spark.plans.slices.time_sliced`, which carries
the cross-bucket boundary (the previous point; the running sums of the
earlier buckets) from a 1-row-per-bucket table — so a hot key spreads
across its time buckets. Equality with the flat path, NULL keys
included, is property-tested (tests/test_property_hypothesis.py).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.changepoint import _DEC, _collapse, _dbl
from intervalaverage_spark.plans.rangejoin import fdiv_sql
from intervalaverage_spark.plans.slices import time_sliced
from intervalaverage_spark.validation import (
    Entry,
    IntervalDataError,
    IntervalSchemaError,
    _agg,
    _no_collision,
    _over,
    _q,
    check_unique_ts,
    enter_points,
)

_AGGS = {"mean": "avg", "sum": "sum", "min": "min", "max": "max", "count": "count"}
_SEASONAL = ("phase", "x", "mean_v", "sd_v", "rz")


def rate(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    counter_reset: str = "none",
    out_col: str = "rate",
    bucket_width: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """Per-key discrete derivative ``Δv/Δt`` between consecutive points.

    ``counter_reset``:
      * ``"none"``  — gauge semantics: Δv may be negative.
      * ``"zero"``  — monotone-counter semantics (PromQL ``rate``): a
        drop means the counter restarted at 0, so Δv = current value.

    First point per key (no predecessor) and duplicate timestamps
    (Δt = 0) yield NULL — dedup upstream for unique-ts series, same
    contract as operators/asof.py; ``validate=True`` checks it eagerly
    (one bounded aggregate, default off — the reference's skippable
    eager-validation split, SURVEY §4 #7).

    ``bucket_width`` (the skew path): partition the window by
    ``(key, floor(t/width))`` instead of key alone, so a hot key spreads
    across its time buckets; the predecessor of each bucket's first row is
    the previous bucket's last point, carried by
    :func:`~intervalaverage_spark.plans.slices.time_sliced`. Identical
    results to the flat path (property-tested)."""
    if counter_reset not in ("none", "zero"):
        raise IntervalSchemaError(
            f"counter_reset must be none/zero, got {counter_reset!r}")
    e = enter_points(df, ts_col, [value_col], group_vars, out=[out_col], keep=True)
    if validate:
        check_unique_ts(df, ts_col, group_vars)
    t, v = "CAST(__xt0 AS BIGINT)", "CAST(__xv0 AS DOUBLE)"
    pt = f"named_struct('t', {t}, 'v', {v})"
    s = time_sliced(
        e.x, e.cols("xg"), t, bucket_width,
        window=lambda p: {"__prev": f"lag({pt}) OVER ({p} ORDER BY {t})"},
        summary={"__last": f"max_by({pt}, {t})"},
        back=lambda w: {"__carry": f"last(__last) {w}"})
    prev = "__prev" if bucket_width is None else "coalesce(__prev, __carry)"
    dv = (f"CASE WHEN {v} >= {prev}.v THEN {v} - {prev}.v ELSE {v} END"
          if counter_reset == "zero" else f"{v} - {prev}.v")
    return s.selectExpr(
        *e.restore(*df.columns),
        f"CASE WHEN {t} > {prev}.t THEN ({dv}) / ({t} - {prev}.t) END AS {_q(out_col)}")


def _per_t(e: Entry, ft: str, aggs: Mapping[str, str]) -> tuple[DataFrame, list[str]]:
    """The entered rows collapsed to one per key and time ``ft`` (BIGINT),
    with ``aggs`` over the DOUBLE value ``__v``, and the key names: the keys
    are renamed ``__k0…``, so the result can join back to the rows."""
    keys = [f"__k{i}" for i in range(len(e.cols("xg")))]
    rows = e.x.selectExpr(*(f"{g} AS {k}" for g, k in zip(e.cols("xg"), keys)),
                          f"CAST(__xt0 AS BIGINT) AS {ft}", "CAST(__xv0 AS DOUBLE) AS __v")
    return _agg(rows, [*keys, ft], aggs), keys


def _rolled(e: Entry, columns: Sequence[str], frame: DataFrame, roll: Sequence[str],
            ft: str | None = None) -> DataFrame:
    """The input rows ``columns`` plus the per-(key, t) results ``__r0…`` of
    ``frame`` as the ``roll`` names. ``frame`` holds the input rows
    themselves, or — with its time column ``ft`` — is a :func:`_per_t`
    collapse and joins back on its keys and time."""
    if ft is not None:
        keys = [f"__k{i}" for i in range(len(e.cols("xg")))]
        on = [*(f"{g} <=> {k}" for g, k in zip(e.cols("xg"), keys)),
              f"CAST(__xt0 AS BIGINT) = {ft}"]
        frame = e.x.join(frame.selectExpr(*keys, ft, *(f"__r{i}" for i in range(len(roll)))),
                         F.expr(" AND ".join(on)), "left")
    return frame.selectExpr(*e.restore(*columns),
                            *(f"__r{i} AS {_q(r)}" for i, r in enumerate(roll)))


def rolling(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("mean",),
) -> DataFrame:
    """Time-RANGE moving aggregates per key: each row sees every point
    with ``t' ∈ [t − window, t]`` (closed, in ``ts_col`` units — event
    spacing doesn't matter, unlike ROWS frames). Appends
    ``<value>_roll_<agg>`` per requested agg. One exchange; all frames
    share the single (key, t) sort.

    No ``bucket_width`` twin HERE: a RANGE frame reaches back ``window``
    time units, so time-slicing this window would need a carry of up to
    ``window``-worth of ROWS per bucket boundary (not 1 row) — at that
    point the carry IS the hot partition. For the decomposable aggregates
    (sum/count/mean) use :func:`rolling_decomposable`, which sidesteps
    the frame entirely via a bucketed sweep-line running sum; min/max
    genuinely need this direct frame (non-invertible),
    where hot-key mitigation is the key model itself (url-hash keys) or
    pre-aggregating to a coarser tier first."""
    if bad := [a for a in aggs if a not in _AGGS]:
        raise IntervalSchemaError(f"unknown aggs {bad}; choose from {sorted(_AGGS)}")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    roll = [f"{value_col}_roll_{a}" for a in aggs]
    e = enter_points(df, ts_col, [value_col], group_vars, out=roll, keep=True)
    over = _over(e.cols("xg"), "CAST(__xt0 AS BIGINT)",
                 f"RANGE BETWEEN {int(window)} PRECEDING AND CURRENT ROW")
    return e.x.selectExpr(*e.restore(*df.columns), *(
        f"{_AGGS[a]}(CAST(__xv0 AS DOUBLE)) {over} AS {_q(r)}" for a, r in zip(aggs, roll)))


def rolling_decomposable(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("sum", "count", "mean"),
    bucket_width: int | None = None,
    assume_unique_ts: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Time-RANGE rolling sum/count/mean with FULL hot-key spreading —
    the bucketable twin :func:`rolling` cannot have for general
    aggregates.

    A RANGE frame's carry is a window-full of rows, so time-slicing the
    window directly is hopeless (see :func:`rolling`). But sum/count/mean
    are DECOMPOSABLE: a point enters the frame at its own time and leaves
    it ``w + 1`` later, so the frame is a sweep line — a running sum of
    ``+v`` events at ``t`` and ``−v`` events at ``t + w + 1`` (the
    leaving events sort first at equal times):

    1. collapse to one row per (key, t): ``s_t = Σv, c_t = count(v)`` —
       a plain shuffled aggregate (also makes duplicate timestamps share
       one frame result, exactly the RANGE-frame contract);
    2. add the leaving events and run the two sums per key — per (key,
       time-bucket) through
       :func:`~intervalaverage_spark.plans.slices.time_sliced` when
       ``bucket_width`` is set, the earlier buckets' totals carried in;
    3. join the per-t frame results back to the input rows on (key, t).

    Appends ``<value>_roll_<agg>`` (matching :func:`rolling`'s naming);
    outputs are double — same as :func:`rolling`, which also casts values
    to double before aggregating. Numerics: bit-identical to
    :func:`rolling` when the double-cast values are integers or
    integer-valued doubles within 2**53 — the running sums are then
    exact. For general doubles (and for decimals, which the double cast
    truncates to 53-bit significands) results can differ from the direct
    frame sum in the last ulps (different addition order). Integer time
    domain required (``t + w + 1`` leaving times).

    ``assume_unique_ts=True`` declares the input already holds at most
    one row per (key, t): the collapse aggregate AND the final join-back
    (an avoidable full equi-join in that common shape — tier outputs,
    deduped series) are both skipped; the input rows are the entering
    events, saving one shuffle + one join. Results are undefined if the
    promise is broken — pass ``validate=True`` to check it eagerly (one
    bounded aggregate, the reference's skippable eager-validation
    split)."""
    allowed = ("sum", "count", "mean")
    if bad := [a for a in aggs if a not in allowed]:
        raise IntervalSchemaError(
            f"aggs {bad} are not decomposable; choose from {allowed} "
            "(min/max need the direct rolling())")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    roll = [f"{value_col}_roll_{a}" for a in aggs]
    e = enter_points(df, ts_col, [value_col], group_vars, out=roll, keep=True)
    t, v = "CAST(__xt0 AS BIGINT)", "CAST(__xv0 AS DOUBLE)"

    if assume_unique_ts:
        if validate:
            check_unique_ts(df, ts_col, group_vars)
        # 1 row per (key, t) promised: the input rows ARE the per-t points,
        # so skip both the collapse aggregate and the final join-back.
        keys = e.cols("xg")
        pts = e.x.selectExpr("*", f"{t} AS __rd_t", f"{v} AS __s",
                             f"CAST({v} IS NOT NULL AS BIGINT) AS __c")
    else:
        pts, keys = _per_t(e, "__rd_t", {"__s": "sum(__v)", "__c": "count(__v)"})
    leave = pts.selectExpr(*keys, f"__rd_t + {int(window) + 1} AS __rd_t",
                           "0 AS __rd_in", "-__s AS __s", "-__c AS __c")
    ev = pts.selectExpr("*", "1 AS __rd_in").unionByName(leave, allowMissingColumns=True)

    run = "ORDER BY __rd_t, __rd_in ROWS UNBOUNDED PRECEDING"
    s = time_sliced(
        ev, keys, "__rd_t", bucket_width,
        window=lambda p: {"__ws": f"sum(__s) OVER ({p} {run})",
                          "__wc": f"sum(__c) OVER ({p} {run})"},
        summary={"__bs": "sum(__s)", "__bc": "sum(__c)"},
        back=lambda w: {"__os": f"coalesce(sum(__bs) {w}, 0D)",
                        "__oc": f"coalesce(sum(__bc) {w}, 0L)"})
    # with buckets, add the earlier buckets' totals; coalesce the bucket's own
    # sum: an only-NULL one must not wipe out the carried total (NULL-frame
    # semantics are restored by the fc > 0 guard, so 0 is safe here)
    fs, fc = (("__ws", "__wc") if bucket_width is None
              else ("(__os + coalesce(__ws, 0D))", "(__oc + __wc)"))
    # an all-NULL (or empty) frame must yield NULL sum/mean like the
    # direct RANGE frame does — X − X = 0 would be wrong
    exprs = {"sum": f"CASE WHEN {fc} > 0 THEN {fs} END", "count": f"CAST({fc} AS BIGINT)",
             "mean": f"CASE WHEN {fc} > 0 THEN {fs} / {fc} END"}
    frame = s.where("__rd_in = 1").selectExpr(
        "*", *(f"{exprs[a]} AS __r{i}" for i, a in enumerate(aggs)))
    return _rolled(e, df.columns, frame, roll, None if assume_unique_ts else "__rd_t")


def rolling_minmax(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("min", "max"),
    assume_unique_ts: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Time-RANGE rolling min/max with FULL hot-key spreading — the
    skew path for the NON-invertible aggregates that
    :func:`rolling_decomposable`'s running sums cannot serve (you
    cannot "subtract" an expired point from a running min).

    The classic two-block decomposition (the O(n) sliding-window-min
    construction, re-expressed as Spark windows): pick the block width
    EQUAL to the frame width ``w``. For integer t,
    ``floor((t−w)/w) == floor(t/w) − 1`` exactly, so every closed frame
    ``[t−w, t]`` spans exactly two adjacent blocks —

    1. collapse to one row per (key, t) with per-t min/max (duplicate
       timestamps share one frame result, the RANGE-frame contract) —
       skipped under ``assume_unique_ts`` like
       :func:`rolling_decomposable`;
    2. per (key, block = floor(t/w)) compute the running PREFIX min/max
       (ascending cumulative) and the running SUFFIX min/max (descending
       cumulative) — two window passes over the SAME (key, block)
       partitioning, each partition at most w time units of one key;
    3. ``frame(t) = combine( prefix(t) within block bk,
       suffix(first point ≥ t−w) within block bk−1 )``: the second term
       is a FORWARD as-of lookup of ``t−w`` into the suffix table with
       the block in the equi keys (``on=(key, bk−1)``) — the as-of
       window partitions by (key, block), so it is spread too;
    4. ``least``/``greatest`` the two terms (both skip NULLs; an
       all-NULL or empty frame yields NULL, matching the direct frame).

    Every stage — collapse, both cumulative windows, the as-of, the
    join-back — is keyed by (key, block): a hot key spreads across its
    time blocks with zero replication, no w-row carries (the reason
    :func:`rolling` itself cannot be time-sliced). Appends
    ``<value>_roll_min`` / ``<value>_roll_max`` (matching
    :func:`rolling`'s naming); outputs are double, values compared after
    the same double cast :func:`rolling` applies, so results are
    IDENTICAL to the direct frame (min/max never round). Integer time
    domain required."""
    allowed = ("min", "max")
    if bad := [a for a in aggs if a not in allowed]:
        raise IntervalSchemaError(
            f"aggs {bad} not supported; choose from {allowed} "
            "(sum/count/mean have rolling_decomposable)")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    roll = [f"{value_col}_roll_{a}" for a in aggs]
    e = enter_points(df, ts_col, [value_col], group_vars, out=roll, keep=True)
    g, t, v = e.cols("xg"), "CAST(__xt0 AS BIGINT)", "CAST(__xv0 AS DOUBLE)"

    if window == 0:
        # frame = the point's same-t peer rows: one window partitioned by
        # (key, t) directly over the input — still (key, block)-grained
        # spreading (block == t here), and neither collapse nor join-back
        # is needed
        w0 = f"OVER (PARTITION BY {', '.join([*g, t])})"
        return _rolled(e, df.columns, e.x.selectExpr(
            "*", *(f"{a}({v}) {w0} AS __r{i}" for i, a in enumerate(aggs))), roll)
    if assume_unique_ts:
        if validate:
            check_unique_ts(df, ts_col, group_vars)
        keys = g
        pts = e.x.selectExpr("*", f"{t} AS __rm_t", f"{v} AS __rm_mn", f"{v} AS __rm_mx")
    else:
        pts, keys = _per_t(e, "__rm_t", {"__rm_mn": "min(__v)", "__rm_mx": "max(__v)"})
    keep = [c for c in pts.columns if c not in ("__rm_mn", "__rm_mx")]
    blocks = pts.selectExpr("*", f"{fdiv_sql('__rm_t', str(int(window)))} AS __rm_bk")
    run = {d: _over([*keys, "__rm_bk"], f"__rm_t{d}", "ROWS UNBOUNDED PRECEDING")
           for d in ("", " DESC")}
    pref = blocks.selectExpr(
        *keep, "__rm_bk - 1 AS __rm_qb", f"__rm_t - {int(window)} AS __rm_qt",
        f"min(__rm_mn) {run['']} AS __pmn", f"max(__rm_mx) {run['']} AS __pmx")
    suf = blocks.selectExpr(
        *keys, "__rm_bk AS __rm_qb", "__rm_t",
        f"min(__rm_mn) {run[' DESC']} AS __smn", f"max(__rm_mx) {run[' DESC']} AS __smx")
    m = asof_join(
        pref, suf, on=[*keys, "__rm_qb"], left_ts="__rm_qt", right_ts="__rm_t",
        right_cols=["__smn", "__smx"], direction="forward", suffix="__m")
    # least/greatest skip NULLs; all-NULL (or block-bk-1-empty) terms fall
    # through to the other term, both NULL → NULL like the direct frame
    exprs = {"min": "least(__pmn, __smn__m)", "max": "greatest(__pmx, __smx__m)"}
    frame = m.selectExpr(*keep, *(f"{exprs[a]} AS __r{i}" for i, a in enumerate(aggs)))
    return _rolled(e, df.columns, frame, roll, None if assume_unique_ts else "__rm_t")


def percentile_col_name(p: float) -> str:
    """``0.5 → p50``, ``0.95 → p95``, ``1.0 → p100``, ``0.0 → p00``,
    ``0.999 → p99_9`` — numeric derivation, never a ``.`` in the name
    (a dot breaks unquoted downstream references)."""
    n = round(p * 100, 9)
    if abs(n - round(n)) < 1e-9:
        return f"p{int(round(n)):02d}"
    return "p" + f"{n:g}".replace(".", "_").replace("-", "m")


def windowed_percentiles(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_width: int,
    percentiles: Sequence[float],
    group_vars: Sequence[str],
    exact: bool = True,
    accuracy: int = 10000,
    names: Sequence[str] | None = None,
) -> DataFrame:
    """Percentiles of ``value_col`` per (key, time bucket) — the panel
    query. Output: group_vars…, bucket, one column per requested
    percentile (``names`` overrides the derived ``p<pct>`` labels),
    n_points. NULL values excluded (bucket of only NULLs → NULL
    percentiles, n_points still counts).

    ``exact=True`` uses Spark's exact linear-interpolation ``percentile``
    — an ObjectHashAggregate whose per-group state buffers EVERY value in
    the bucket; fine while buckets are bounded (a (key, day) bucket), a
    memory hazard for unbounded-cardinality panels.

    ``exact=False`` switches to ``percentile_approx`` (Greenwald-Khanna
    quantile summaries at ``accuracy``; rank error ≤ 1/accuracy). The
    physical node is still an ObjectHashAggregate — Spark implements both
    as TypedImperativeAggregates — but the state per group is a bounded,
    MERGEABLE sketch of O(accuracy·log n) entries instead of all n
    values, so map-side partial aggregation does real reduction and no
    bucket can blow executor memory regardless of its row count. That
    bounded-state property (not the node name) is what makes it the
    10^12-row panel path; see BENCH/PLANS.md §percentiles."""
    for p in percentiles:
        if not 0.0 <= p <= 1.0:
            raise IntervalSchemaError(f"percentile {p} outside [0, 1]")
    if bucket_width <= 0:
        raise IntervalSchemaError(f"bucket_width must be positive, got {bucket_width}")
    if accuracy <= 0:
        raise IntervalSchemaError(f"accuracy must be positive, got {accuracy}")
    if names is None:
        names = [percentile_col_name(p) for p in percentiles]
    elif len(names) != len(percentiles):
        raise IntervalSchemaError(
            f"{len(names)} names for {len(percentiles)} percentiles")
    # the output is group_vars…, bucket, <names>…, n_points: percentiles=
    # [0.5, 0.5] would emit two p50 columns, a name equal to a group var or
    # bucket/n_points would shadow it — the entry rejects both
    e = enter_points(df, ts_col, [value_col], group_vars, out=["bucket", *names, "n_points"])
    g = e.cols("xg")
    v, ps = "CAST(__xv0 AS DOUBLE)", ", ".join(map(_dbl, percentiles))
    pct = (f"percentile({v}, array({ps}))" if exact
           else f"percentile_approx({v}, array({ps}), {int(accuracy)})")
    bucket = fdiv_sql("__xt0", str(int(bucket_width)))
    agg = _agg(e.x, [*g, f"{bucket} AS bucket"], {"__p": pct, "n_points": "count(1)"})
    return agg.selectExpr(*e.user(*g), "bucket",
                          *(f"__p[{i}] AS {_q(n)}" for i, n in enumerate(names)), "n_points")


_TREND = ("n_points", "t0", "slope", "intercept", "r2")


def trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """Per-key OLS linear trend: slope, intercept, and r² of
    ``value ~ time`` — "is this series drifting, and how fast".

    Closed-form least squares from five EXACT decimal moments
    (n, Σt', Σx, Σt'x, Σt'², Σx²) where ``t'`` is seconds since the
    key's own first observation — centring keeps the decimal products
    inside DECIMAL(38) and conditions the arithmetic; the final
    slope/intercept/r² are each ONE fixed-order float expression over
    those exact sums, 6-dp rounded, so the result replays hash-exact
    cross-engine (the same decimal-moments discipline as the CUSUM
    calibration, operators/changepoint.py).

    Returns one row per key: ``(…group_vars, n_points, t0, slope,
    intercept, r2)`` — ``slope`` in value-units per DAY (per-second
    slopes round to ±0 at 6 dp; the per-day scale keeps the signal
    inside the cross-engine 6-dp compare, and the near-zero sign is
    normalised away — IEEE −0.0 differs between engines' ROUND),
    ``intercept`` the fitted value at ``t0`` (the key's first
    timestamp, epoch seconds), ``r2`` NULL for degenerate fits (single
    point, constant time, or constant value). NULL values are excluded.

    Scale shape: two hash aggregations on the key (min-ts, then the
    moment fold — both combine map-side) and one broadcast-sized join
    between them; no window, no sort, no UDF. At 100 TB each key costs
    one pass however long its history.
    """
    e = enter_points(df, ts_col, [value_col], group_vars, out=_TREND, keyed=True)
    g = e.cols("xg")
    pts = trend_points(e.x, "__xt0", "__xv0", g)
    return trend_from_moments(trend_moments(pts, g, trend_t0(pts, g))).selectExpr(
        *e.user(*g), *_TREND)


def trend_points(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """The ``(…keys, __t epoch-seconds, __x 6-dp decimal)`` projection
    shared by the batch and STREAMING trend paths (NULLs excluded) —
    factored out so both compute moments over bit-identical inputs."""
    _no_collision(["__t", "__x"], group_vars)
    return df.where(f"{_q(value_col)} IS NOT NULL").selectExpr(
        *map(_q, group_vars), f"CAST(CAST({_q(ts_col)} AS TIMESTAMP) AS BIGINT) AS __t",
        f"CAST(round(CAST({_q(value_col)} AS DOUBLE), 6) AS {_DEC}) AS __x")


def trend_t0(pts: DataFrame, group_vars: Sequence[str]) -> DataFrame:
    """Per-key centring reference ``(…keys, t0 = min __t)`` — batch
    computes it inline; the streaming path takes it as the OFFLINE
    CALIBRATION artifact (the cusum mu/kappa/h pattern)."""
    _no_collision(["t0"], group_vars)
    return _agg(pts, [*map(_q, group_vars)], {"t0": "min(__t)"})


def trend_moments(
    pts: DataFrame, group_vars: Sequence[str], t0: DataFrame
) -> DataFrame:
    """EXACT decimal moment fold ``(t0, n, Σu, Σx, Σux, Σu², Σx²)`` with
    time centred on the supplied ``t0`` relation. Every sum is an
    associative decimal aggregate, so the SAME fold runs as a native
    Structured Streaming aggregation (streaming/sketch_stream.py
    streaming_trend_moments) with state = one row per key — and a
    bounded streaming replay's moments equal this batch fold
    bit-for-bit."""
    moments = {"t0": "max(t0)", "n_points": "count(1)", "_su": "sum(__u)", "_sx": "sum(__x)",
               "_sux": "sum(__u * __x)", "_suu": "sum(__u * __u)", "_sxx": "sum(__x * __x)"}
    _no_collision([*moments, "__u"], group_vars)
    g = [*map(_q, group_vars)]
    ctr = pts.join(t0, list(group_vars)).selectExpr(
        *g, "t0", "CAST(__t - t0 AS DECIMAL(12,0)) AS __u", "__x")
    return _agg(ctr, g, moments)


def _doubles(*cols: str) -> list[str]:
    """``cols`` cast to DOUBLE, as SQL."""
    return [f"CAST({c} AS DOUBLE)" for c in cols]


def trend_from_moments(m: DataFrame) -> DataFrame:
    """Closed-form slope/intercept/r² from a :func:`trend_moments`
    relation — each ONE fixed-order float expression, 6-dp rounded,
    −0.0-normalised; NULL for degenerate fits. Runs identically on the
    batch fold and on a streamed moments sink, which is what pins
    stream == batch exactly."""
    moments = ("n_points", "_su", "_sx", "_sux", "_suu", "_sxx")
    g = [_q(c) for c in m.columns if c not in ("t0", *moments)]
    n, su, sx, sux, suu, sxx = _doubles(*moments)
    cov_n = f"({n} * {sux} - {su} * {sx})"     # n² · covariance
    var_t = f"({n} * {suu} - {su} * {su})"     # n² · time variance
    var_x = f"({n} * {sxx} - {sx} * {sx})"     # n² · value variance
    return m.selectExpr(
        *g, "n_points", "t0",
        f"round(CASE WHEN {var_t} > 0 THEN {cov_n} / {var_t} END * 86400D, 6) + 0D AS slope",
        f"round(CASE WHEN {var_t} > 0 THEN ({sx} - ({cov_n} / {var_t}) * {su}) / {n} END, 6)"
        " + 0D AS intercept",
        f"round(CASE WHEN {var_t} > 0 AND {var_x} > 0 "
        f"THEN ({cov_n} * {cov_n}) / ({var_t} * {var_x}) END, 6) AS r2")


def autocorr(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    max_lag: int = 1,
) -> DataFrame:
    """Per-key sequence autocorrelation at lags 1..``max_lag``: the
    Pearson correlation of ``(x_i, x_{i+ℓ})`` over consecutive
    observation pairs in time order — "does this series remember
    itself", the periodicity/persistence companion of :func:`trend`
    (trend asks IS it drifting; autocorrelation asks is it NOISE or
    STRUCTURE, e.g. recrawl-interval persistence per host or diurnal
    carry-over in crawl activity).

    Sequence ACF, not grid ACF: lags count OBSERVATIONS, not seconds —
    no resample/gap-fill is imposed (compose with the fill operators
    first if a regular grid is wanted). Duplicate timestamps collapse
    to their 6-dp decimal mean first (the same total-order precondition
    as the CUSUM detector — reuses
    :func:`~intervalaverage_spark.operators.changepoint.cusum_points`),
    so the pairing is deterministic. NULL values are excluded.

    Exactness discipline (the trend/CUSUM pattern): pair sums
    ``(n, Σa, Σb, Σab, Σa², Σb²)`` are EXACT decimal folds; ``acf`` is
    ONE fixed-order float expression over them, 6-dp rounded,
    −0.0-normalised; degenerate keys (fewer than 2 pairs at that lag,
    or zero variance on either margin) emit NULL, never NaN.

    Returns one row per (key, lag): ``(*group_vars, lag, n_pairs,
    acf)`` — keys emit a row for every lag that has at least one pair.

    Scale shape: the duplicate collapse is one partially-aggregated
    exchange; ONE key-partitioned window sort produces all ``max_lag``
    lead columns; the explode to (lag, a, b) pairs is map-side; the
    moment fold combines map-side on (key, lag). Per-key cost is one
    sorted scan of its history + max_lag× map-side rows — a hot key
    never materialises its history more than once, and there is no
    join at all.
    """
    if max_lag < 1:
        raise IntervalSchemaError(
            f"autocorr: max_lag must be >= 1, got {max_lag}")
    e = enter_points(df, ts_col, [value_col], group_vars, out=("lag", "n_pairs", "acf"),
                     keyed=True)
    g, lags = e.cols("xg"), range(1, max_lag + 1)
    over = _over(g, "__t")
    pairs = (_collapse(e.x, "__xt0", g)
             .selectExpr(*g, "x AS __a", *(f"lead(x, {lag}) {over} AS __b{lag}" for lag in lags))
             .selectExpr(*g, "inline(array({}))".format(", ".join(
                 f"named_struct('lag', {lag}, 'a', __a, 'b', __b{lag})" for lag in lags)))
             .where("b IS NOT NULL"))
    m = _agg(pairs, [*g, "lag"], {"n_pairs": "count(1)", "_sa": "sum(a)", "_sb": "sum(b)",
                                  "_sab": "sum(a * b)", "_saa": "sum(a * a)",
                                  "_sbb": "sum(b * b)"})
    n, sa, sb, sab, saa, sbb = _doubles("n_pairs", "_sa", "_sb", "_sab", "_saa", "_sbb")
    va, vb = f"({n} * {saa} - {sa} * {sa})", f"({n} * {sbb} - {sb} * {sb})"
    acf = (f"CASE WHEN {va} > 0 AND {vb} > 0 "
           f"THEN ({n} * {sab} - {sa} * {sb}) / sqrt({va} * {vb}) END")
    return m.selectExpr(*e.user(*g), "lag", "n_pairs", f"round({acf}, 6) + 0D AS acf")


def theil_sen(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    max_points: int = 2000,
) -> DataFrame:
    """Per-key Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes — up to ~29% of a series can be corrupt (bot bursts, parser
    glitches, the exact junk MAD flags) and the slope estimate stands,
    where OLS (:func:`trend`) is dragged by every outlier. Sen's
    intercept = median residual at the key's first observation.

    Quadratic by definition (all C(n,2) pairs), so the per-key history
    is BOUNDED: only keys with ``2 ≤ n ≤ max_points`` distinct
    timestamps emit a row — larger keys are EXCLUDED (documented, not
    sampled: silent subsampling would break determinism; downsample
    first via M4/tiers, or use :func:`trend` whose one-pass moments
    handle any length). Duplicate timestamps collapse to 6-dp decimal
    means first (the family's total-order precondition).

    Exactness: each pairwise slope is ONE fixed-order float
    ``(Δx_decimal → double) · 86400 / Δt``, 6-dp rounded; the medians
    are exact linear-interpolation percentiles over those rounded
    values (the E25/E72 contract); residuals likewise fixed-order.
    Output: ``(*group_vars, n_points, n_pairs, ts_slope units/day,
    ts_intercept)``.

    Scale shape: the pair join is a key-equi self-join whose fan-out is
    C(n,2) per key — bounded by ``max_points`` BY CONSTRUCTION, so no
    hot key can quadratic-bomb the stage; everything else is key-equi
    joins against key-cardinality relations. The 10^9-series regime is
    trend() for every key + theil_sen on the suspicious ones MAD/CUSUM
    surfaced.
    """
    if max_points < 2:
        raise IntervalDataError(
            f"theil_sen: max_points must be >= 2, got {max_points}")
    out = ("n_points", "n_pairs", "ts_slope", "ts_intercept")
    e = enter_points(df, ts_col, [value_col], group_vars, out=out, keyed=True)
    g = e.cols("xg")
    # collapse on the FLOOR-SECOND (not the raw timestamp): slopes
    # divide by Δt in whole seconds, so two sub-second observations
    # must fuse BEFORE pairing or Δt = 0 pairs would divide by zero
    pts = _collapse(e.x, "CAST(CAST(__xt0 AS TIMESTAMP) AS BIGINT)", g)
    bounds = _agg(pts, g, {"n_points": "count(1)", "__t0": "min(__t)"}).where(
        f"n_points >= 2 AND n_points <= {int(max_points)}")
    kp = pts.join(bounds, g)
    pairs = kp.selectExpr(*g, "__t AS __t1", "x AS __x1").join(
        kp.selectExpr(*g, "__t AS __t2", "x AS __x2"), g).where("__t1 < __t2")
    # slopes stay RAW doubles into the median: each is bit-identical
    # cross-engine (decimal Δx → double exact, integer Δt), and the
    # 0.5-interpolation midpoint of raw doubles almost never lands on a
    # 6-dp round boundary — whereas pre-rounded slopes put EVERY odd
    # midpoint exactly on the 7th-digit 5 (measured flapping at sf0.01)
    slope = "CAST(__x2 - __x1 AS DOUBLE) * 86400D / CAST(__t2 - __t1 AS DOUBLE)"
    med = _agg(pairs, g, {"n_pairs": "count(1)",
                          "ts_slope": f"round(percentile({slope}, 0.5D), 6) + 0D"})
    resid = "CAST(x AS DOUBLE) - ts_slope * (CAST(__t - __t0 AS DOUBLE) / 86400D)"
    return _agg(kp.join(med, g), g, {
        "n_points": "max(n_points)", "n_pairs": "max(n_pairs)", "ts_slope": "max(ts_slope)",
        "ts_intercept": f"round(percentile({resid}, 0.5D), 6) + 0D"},
    ).selectExpr(*e.user(*g), *out)


def cadence_stats(
    df: DataFrame,
    ts_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """Per-key inter-arrival (cadence) statistics: the distribution of
    gaps between consecutive DISTINCT observation times — "how often is
    this url recrawled / this sensor heard from, and how regular is
    it". The scheduling-side companion of the recrawl-priority score
    (E48 ranks what to fetch next; this measures what the historical
    cadence actually was, and its regularity feeds the churn model).

    Gaps are in integer seconds between distinct timestamps (duplicate
    ts collapse first — cadence is about observation TIMES, not row
    multiplicity). Per key: ``n_obs`` distinct times, ``n_gaps`` =
    n_obs − 1, min/max gap, ``mean_gap`` (exact decimal sum → one
    divide, 6-dp), ``p50_gap``/``p95_gap`` (exact linear-interpolation
    percentiles — Spark ``percentile`` == DuckDB ``quantile_cont``),
    and ``cv_gap`` = population σ/μ from exact decimal moments (ONE
    fixed-order float, 6-dp; cv 0 = metronome, ≥1 = bursty). Keys with
    a single observation emit ``n_gaps = 0`` with NULL gap statistics.

    Scale shape: the distinct-ts collapse is one partially-aggregated
    exchange; ONE key-partitioned window (lag) produces the gaps; the
    stats fold is a single aggregation on the same key (decimal sums
    combine map-side; the two exact percentiles buffer a key's gaps —
    the documented short-series trade, same as robust_anomalies). No
    join; per-key cost is one sorted scan of its distinct times.
    """
    out = ("n_obs", "n_gaps", "min_gap", "max_gap", "mean_gap", "p50_gap", "p95_gap", "cv_gap")
    e = enter_points(df, ts_col, [], group_vars, out=out, keyed=True)
    g = e.cols("xg")
    gaps = (e.x.where("__xt0 IS NOT NULL")
            .selectExpr(*g, "CAST(CAST(__xt0 AS TIMESTAMP) AS BIGINT) AS __t").distinct()
            .selectExpr(*g, f"__t - lag(__t) {_over(g, '__t')} AS __gap"))
    gd = "CAST(__gap AS DECIMAL(18,0))"
    agg = _agg(gaps, g, {
        "n_obs": "count(1)", "n_gaps": "count(__gap)", "min_gap": "min(__gap)",
        "max_gap": "max(__gap)", "_sg": f"sum({gd})", "_sgg": f"sum({gd} * {gd})",
        "_p50": "percentile(CAST(__gap AS DOUBLE), 0.5D)",
        "_p95": "percentile(CAST(__gap AS DOUBLE), 0.95D)"})
    n, sg, sgg = _doubles("n_gaps", "_sg", "_sgg")
    # population cv = sqrt(n·Σg² − (Σg)²) / Σg  (σ/μ with one fixed order)
    cv = f"sqrt(greatest(0D, {n} * {sgg} - {sg} * {sg})) / {sg}"
    return agg.selectExpr(
        *e.user(*g), *out[:4], f"round(CASE WHEN n_gaps > 0 THEN {sg} / {n} END, 6) AS mean_gap",
        "round(_p50, 6) AS p50_gap", "round(_p95, 6) AS p95_gap",
        f"round(CASE WHEN n_gaps > 0 AND {sg} > 0 THEN {cv} END, 6) AS cv_gap")


def _phase(period: int, buckets: int, op: str) -> str:
    """SQL of the phase bucket of the point time ``__t``: ``(epoch mod
    period) ÷ (period/buckets)`` in integer arithmetic."""
    if buckets < 1 or period < 1 or period % buckets != 0:
        raise IntervalDataError(
            f"{op}: need period >= buckets >= 1 with period % buckets == 0, "
            f"got period={period} buckets={buckets}")
    return (f"CAST(pmod(CAST(CAST(__t AS TIMESTAMP) AS BIGINT), {int(period)}) "
            f"/ {period // buckets} AS BIGINT)")


def _k_decimal(k: float, op: str) -> str:
    """SQL of the 6-dp decimal threshold multiplier ``k`` (NaN and negative
    ``k`` rejected)."""
    if not (k == k) or k < 0:
        raise IntervalDataError(f"{op}: k must be >= 0, got {k}")
    return f"CAST({_dbl(round(float(k), 6))} AS {_DEC})"


def _profile(pts: DataFrame, g: Sequence[str], phase: str) -> DataFrame:
    """Per (key, phase) of the collapsed points ``pts``: ``n_obs``,
    ``mean_v`` and the population ``sd_v`` (NULL when n_obs < 2)."""
    agg = _agg(pts.selectExpr(*g, f"{phase} AS phase", "x"), [*g, "phase"],
               {"n_obs": "count(1)", "_s1": "sum(x)", "_s2": "sum(x * x)"})
    n, s1, s2 = _doubles("n_obs", "_s1", "_s2")
    sd = f"sqrt(greatest(0D, {s2} / {n} - ({s1} / {n}) * ({s1} / {n})))"
    return agg.selectExpr(*g, "phase", "n_obs", f"round({s1} / {n}, 6) AS mean_v",
                          f"round(CASE WHEN n_obs >= 2 THEN {sd} END, 6) AS sd_v")


def _seasonal_flag(e: Entry, pts: DataFrame, prof: DataFrame, ts_col: str, phase: str,
                   k: str) -> DataFrame:
    """The seasonal anomalies of the points ``pts`` (keys, time ``__t``,
    6-dp decimal ``x``) against the profile ``prof`` (keys, ``phase``,
    ``mean_v``, ``sd_v``): the flag compare runs in decimal, ``rz`` is one
    fixed-order float. Output under the user's names of entry ``e``."""
    g = e.cols("xg")
    md, sd = f"CAST(mean_v AS {_DEC})", f"CAST(sd_v AS {_DEC})"
    rz = f"CASE WHEN {sd} > 0 THEN CAST(x - {md} AS DOUBLE) / CAST({sd} AS DOUBLE) END"
    return (pts.selectExpr(*g, "__t", f"{phase} AS phase", "x").join(prof, [*g, "phase"])
            .where(f"CASE WHEN {sd} IS NULL THEN false ELSE abs(x - {md}) > {k} * {sd} END")
            .selectExpr(*e.user(*g), f"__t AS {_q(ts_col)}", "phase", "CAST(x AS DOUBLE) AS x",
                        "mean_v", "sd_v", f"round({rz}, 6) + 0D AS rz"))


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    period: int = 86400,
    buckets: int = 24,
) -> DataFrame:
    """Per-key seasonal baseline: mean and σ of the value per PHASE
    bucket of a repeating period (default: hour-of-day over a day) —
    crawl traffic, fetch latency and page-change rates are strongly
    diurnal, so "is this value high?" is only answerable against the
    hour it happened in. The companion detector
    (:func:`seasonal_anomalies`) flags against THIS baseline; CUSUM
    (level shifts) and MAD (global outliers) miss exactly the
    anomalies that hide inside the daily swing.

    Phase = ``(epoch mod period) ÷ (period/buckets)`` (integer
    arithmetic; ``period`` must divide evenly into ``buckets``).
    Duplicate (key, ts) rows collapse to their 6-dp decimal mean first
    (:func:`~intervalaverage_spark.operators.changepoint.cusum_points`
    — the family's total-order precondition), then per (key, phase):
    ``n_obs``, ``mean_v`` (exact decimal sum → one divide → 6-dp) and
    ``sd_v`` (population σ from exact decimal moments — ONE
    fixed-order float, 6-dp; NULL when n_obs < 2).

    Scale shape: ONE map-side-combined aggregation on (key, phase) —
    the profile is keys × buckets rows, the artifact you persist
    nightly and broadcast at detection time. No window, no join, no
    UDF.
    """
    phase = _phase(period, buckets, "seasonal_profile")
    out = ("phase", "n_obs", "mean_v", "sd_v")
    e = enter_points(df, ts_col, [value_col], group_vars, out=out, keyed=True)
    g = e.cols("xg")
    return _profile(_collapse(e.x, "__xt0", g), g, phase).selectExpr(*e.user(*g), *out)


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    period: int = 86400,
    buckets: int = 24,
    k: float = 3.0,
) -> DataFrame:
    """Points deviating more than ``k``·σ from THEIR OWN phase bucket's
    mean (:func:`seasonal_profile`) — the "3am spike that is normal at
    3pm" detector. The flag compare runs entirely in decimal (mean and
    σ re-enter as 6-dp decimals), so the anomaly SET is cross-engine
    exact; ``rz = (x − mean)/σ`` is one fixed-order float, 6-dp,
    −0.0-normalised. Phase buckets with σ NULL (single point) or σ = 0
    (constant — flag degenerates to x ≠ mean, rz NULL) follow the
    robust_anomalies degenerate contract.

    Output: ``(*group_vars, ts_col, phase, x, mean_v, sd_v, rz)`` for
    anomalous points only. Scale shape: the profile fold + ONE
    key-phase equi join back (profile is keys × buckets rows —
    broadcastable); no window.
    """
    kd = _k_decimal(k, "seasonal_anomalies")
    phase = _phase(period, buckets, "seasonal_anomalies")
    e = enter_points(df, ts_col, [value_col], group_vars, out=(ts_col, *_SEASONAL),
                     keyed=True)
    pts = _collapse(e.x, "__xt0", e.cols("xg"))
    return _seasonal_flag(e, pts, _profile(pts, e.cols("xg"), phase), ts_col, phase, kd)


def robust_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    k: float = 3.0,
) -> DataFrame:
    """Per-key robust outliers: points whose absolute deviation from the
    key's MEDIAN exceeds ``k`` × MAD (median absolute deviation) — the
    distribution-free complement of :func:`~intervalaverage_spark.
    operators.changepoint.cusum` (CUSUM finds sustained LEVEL SHIFTS
    against a mean/σ calibration that outliers themselves corrupt; MAD
    has a 50% breakdown point, so this finds the POINT anomalies even
    when half the data is junk — the right screen for crawl-metric
    spikes, bot bursts, parser glitches).

    Exactness discipline: values collapse to 6-dp decimal means per
    (key, ts) first (:func:`~intervalaverage_spark.operators.
    changepoint.cusum_points` — same total-order precondition as the
    rest of the family); median and MAD are exact linear-interpolation
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    the E25 precedent), each 6-dp-rounded back to decimal; the flag
    compare ``|x − med| > k·mad`` runs ENTIRELY in decimal, so the
    anomaly SET is cross-engine exact, not approximately. ``rz`` is the
    robust z-score ``(x − med) / (1.4826·mad)`` — one fixed-order float
    expression, 6-dp, −0.0-normalised; NULL when ``mad = 0`` (where the
    flag degenerates to ``x ≠ med``, documented rather than NaN).

    Returns only the anomalous points: ``(*group_vars, ts_col, x, med,
    mad, rz)`` with x/med/mad as 6-dp doubles.

    Scale shape: two aggregations on the key (median, then MAD of the
    deviations) and two key-equi joins back — the stats relations are
    one row per key, so AQE broadcasts them when small and the joins
    stay co-partitioned with the collapse otherwise; no window, no
    sort, no UDF; a hot key costs two percentile folds of its history,
    never a cross join. Exact percentile buffers a key's values inside
    the aggregate — for the 10^9-key/short-series regime this is the
    right trade; for million-point single keys compose with the
    histogram sketch (functions/quantiles.py) instead.
    """
    kd = _k_decimal(k, "robust_anomalies")
    e = enter_points(df, ts_col, [value_col], group_vars,
                     out=(ts_col, "x", "med", "mad", "rz"), keyed=True)
    g = e.cols("xg")
    pts = _collapse(e.x, "__xt0", g)
    med = _agg(pts, g, {"__med": f"CAST(round(percentile(CAST(x AS DOUBLE), 0.5D), 6) AS {_DEC})"})
    dev = pts.join(med, g).selectExpr(*g, "__t", "x", "__med", "abs(x - __med) AS __dev")
    mad = _agg(dev, g,
               {"__mad": f"CAST(round(percentile(CAST(__dev AS DOUBLE), 0.5D), 6) AS {_DEC})"})
    rz = ("CASE WHEN __mad > 0 "
          "THEN CAST(x - __med AS DOUBLE) / (1.4826D * CAST(__mad AS DOUBLE)) END")
    return dev.join(mad, g).where(f"__dev > {kd} * __mad").selectExpr(
        *e.user(*g), f"__t AS {_q(ts_col)}", "CAST(x AS DOUBLE) AS x",
        "CAST(__med AS DOUBLE) AS med", "CAST(__mad AS DOUBLE) AS mad",
        f"round({rz}, 6) + 0D AS rz")
