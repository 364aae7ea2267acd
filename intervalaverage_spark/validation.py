"""The interval operators' one entry layer and the reference's error contract.

The reference front-loads ~20 error checks so its kernels can be check-free
(R/intervalaverage_functions.R:218-338, technicaloverview.Rmd:79). So do we:
driver-side schema checks (no job) in :func:`enter`, which also aliases the
columns an operator reads to internal names in one quoted ``selectExpr``,
and ONE Spark job per table for the data-dependent checks. Kernels are SQL
text over the internal names, and :class:`Entry` restores the user's names
in the final projection: no user name is ever parsed as a column path, so
any name works (``a.b``, ``g`x``, ``ws``, …). The point-series operators
(the series analytics, fills, sessions, changepoint and downsampling) enter
the same way through :func:`enter_points`, and so do the ``functions/``
modules dedup, ann, textstats, retrieval and the sketches (bloom, cms, hll,
quantiles): each public call reads its id, text, key, group, value or
vector columns through one :func:`_aliased` projection to fixed internal
names, a call that returns its input plus columns enters through
:func:`_plus`, and every name a call adds is checked with
:func:`_no_collision`.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

#: output names the operators create; rejected as input columns
#: (reference: R/intervalaverage_functions.R:236-240)
RESERVED = ("yduration", "xduration", "xminstart", "xmaxend")

#: DATE bounds travel as days since this day
_EPOCH = "1970-01-01"


class IntervalSchemaError(ValueError):
    """Schema-level violation (wrong types, missing/reserved columns)."""


class IntervalDataError(ValueError):
    """Data-level violation (null/inverted bounds, dups, overlaps)."""


def _q(*parts: str) -> str:
    """The column name ``parts`` joined, as a quoted SQL identifier."""
    return "`" + "".join(parts).replace("`", "``") + "`"


def _over(keys: Sequence[str], order: str, frame: str = "") -> str:
    """SQL window clause partitioned by the SQL expressions ``keys``."""
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    return f"OVER ({part}ORDER BY {order} {frame})"


def _agg(df: DataFrame, keys: Sequence[str], aggs: Mapping[str, str]) -> DataFrame:
    """``df`` grouped by the SQL expressions ``keys``: one row per group with
    the keys and the SQL aggregate ``aggs[name]`` as each ``name``."""
    return df.groupBy(*map(F.expr, keys)).agg(*(F.expr(f"{e} AS {a}") for a, e in aggs.items()))


def _roles(p: str, **roles: Sequence[str]) -> dict[str, str]:
    """Internal name → user name of side ``p``'s columns: ``__<p><role><i>``."""
    return {f"__{p}{k}{i}": c for k, cs in roles.items() for i, c in enumerate(cs)}


def _aliased(df: DataFrame, names: Mapping[str, str], *extra: str) -> DataFrame:
    """``df``'s columns under internal ``names`` (internal → user), then the
    select items ``extra``: one quoted projection. Raises naming the
    columns ``df`` lacks."""
    if missing := [c for c in dict.fromkeys(names.values()) if c not in df.columns]:
        raise IntervalSchemaError(f"missing column(s) {missing}")
    return df.selectExpr(*(f"{_q(c)} AS {a}" for a, c in names.items()), *extra)


def _plus(df: DataFrame, names: dict[str, str], out: Sequence[str]) -> tuple[DataFrame, list]:
    """The entry of a function that returns ``df`` plus the columns ``out``:
    ``df`` with its columns ``names`` (internal → user) and every column as
    ``__xc<i>``, and the select items (Columns) giving those back under
    their names."""
    _no_collision(out, df.columns)
    keep = _roles("x", c=df.columns)
    return _aliased(df, {**keep, **names}), [F.col(a).alias(c) for a, c in keep.items()]


def _no_collision(out: Sequence[str], carried: Sequence[str]) -> None:
    """Raise unless the names ``out`` an operator adds differ from each
    other and from the ``carried`` names its output keeps."""
    shown = [*out, *carried]
    if dup := sorted({c for c in out if shown.count(c) > 1}):
        raise IntervalSchemaError(
            f"duplicate output column name(s) {dup}: the name already exists among the "
            "carried columns or collides with another output column")


def check_unique_ts(df: DataFrame, ts_col: str, group_vars: Sequence[str]) -> None:
    """Raise :class:`IntervalDataError` if any (key, ts) appears more than
    once — the eager analogue of the reference's non-overlap validation
    (R/intervalaverage_functions.R:307-338, skippable there too). One
    aggregate + head(1): the collect is bounded to a single row."""
    cols = [*group_vars, ts_col]
    dup = (df.selectExpr(*(f"{_q(c)} AS __c{i}" for i, c in enumerate(cols)))
           .groupBy(*(f"__c{i}" for i in range(len(cols)))).count()
           .where("count > 1").head(1))
    if dup:
        *values, n = dup[0]
        raise IntervalDataError(
            f"duplicate (key, {ts_col}) rows — e.g. {dict(zip(cols, values))} appears "
            f"{n} times; the matched predecessor would be "
            "sort-order-dependent. Dedup upstream or aggregate first.")


def check_schema(
    df: DataFrame,
    interval_vars: Sequence[str],
    group_vars: Sequence[str] = (),
    value_vars: Sequence[str] = (),
    reserved_ok: bool = False,
) -> bool:
    """Driver-side (no job) schema checks; True if the intervals are dates.
    Reference: cols exist & disjoint roles (R/intervalaverage_functions.R:
    233-262), interval cols integer/IDate and same class (:272-284),
    reserved names absent (:236-240)."""
    iv = list(interval_vars)
    if len(iv) != 2:
        raise IntervalSchemaError(f"interval_vars must be length 2, got {iv}")
    all_cols = list(iv) + list(group_vars) + list(value_vars)
    missing = [c for c in all_cols if c not in df.columns]
    if missing:
        raise IntervalSchemaError(f"columns not in DataFrame: {missing}")
    if len(set(all_cols)) != len(all_cols):
        raise IntervalSchemaError("interval_vars, group_vars, value_vars must be mutually disjoint")
    if not reserved_ok:
        bad = [c for c in df.columns if c in RESERVED or c.startswith(("nobs_", "maxgap_"))]
        if bad:
            raise IntervalSchemaError(
                f"reserved output names present in input: {bad} "
                f"(reference rejects these: R/intervalaverage_functions.R:236-240)"
            )
    t0, t1 = (df.schema[c].dataType for c in iv)
    both_date = isinstance(t0, T.DateType) and isinstance(t1, T.DateType)
    if not (both_date or isinstance(t0, INTEGRAL_TYPES) and isinstance(t1, INTEGRAL_TYPES)):
        raise IntervalSchemaError(
            f"interval columns must both be integral or both DateType, got "
            f"({t0.simpleString()}, {t1.simpleString()}); discretize continuous "
            f"time first (reference: technicaloverview.Rmd:35-36)"
        )
    for v in value_vars:
        if not isinstance(df.schema[v].dataType, T.NumericType):
            raise IntervalSchemaError(f"value_var {v} must be numeric")
    return both_date


def check_intervals(
    df: DataFrame,
    start: str,
    end: str,
    group_vars: Sequence[str] = (),
    require_non_overlapping: bool = False,
    forbid_duplicates: bool = False,
    label: str = "x",
) -> None:
    """ONE Spark job validating data-dependent invariants.

    Fuses four reference checks into a single sorted window pass per group:
      * null bounds forbidden            (R/intervalaverage_functions.R:264-270)
      * start <= end                     (:301-305)
      * exact duplicate (group,start,end) rows (:307-312)
      * within-group interval overlap — closed intervals, so touching
        endpoints overlap (:324-338, src/Cisoverlapping.cpp:16-21)
    Names are quoted and the offending row read back positionally.
    """
    s, e = _q(start), _q(end)
    over = _over([*map(_q, group_vars)], f"{s}, {e}")
    problems = [f"CASE WHEN {s} IS NULL OR {e} IS NULL THEN 'null interval bound' END",
                f"CASE WHEN {s} > {e} THEN 'interval start > end' END"]
    if forbid_duplicates:
        problems.append(f"CASE WHEN lag({s}) {over} = {s} AND lag({e}) {over} = {e} "
                        "THEN 'exact duplicate interval row' END")
    if require_non_overlapping:
        # sorted by (start,end): any overlap shows up between neighbors
        problems.append(f"CASE WHEN {s} <= lag({e}) {over} "
                        "THEN 'overlapping intervals within group' END")
    cols = [*group_vars, start, end]
    row = (df.selectExpr(f"coalesce({', '.join(problems)}) AS __problem",
                         *(f"{_q(c)} AS __c{i}" for i, c in enumerate(cols)))
           .where("__problem IS NOT NULL").limit(1).collect())
    if row:
        problem, *values = row[0]
        raise IntervalDataError(
            f"invalid intervals in {label}: {problem} at {dict(zip(cols, values))}")


@dataclass(frozen=True)
class Entry:
    """Inputs under internal names: side ``p`` (x, and y if given) holds
    group columns ``__pg0…``, carried columns ``__pc0…``, values ``__pv0…``
    and BIGINT bounds ``__ps``, ``__pe`` (dates as days). ``names`` maps them
    to the user's names, ``types`` the bounds to the user's SQL types. A
    point entry (:func:`enter_points`) has side x only, with its order
    column ``__xt0`` in the user's type (``is_date`` if a DATE)."""

    x: DataFrame
    y: DataFrame | None
    is_date: bool
    names: dict[str, str]
    types: dict[str, str]

    def cols(self, kind: str) -> list[str]:
        """The internal names of ``kind``: ``"xg"``, ``"yc"``, ``"xv"``, …"""
        return [c for c in self.names if c.startswith("__" + kind)]

    def keys(self, p: str) -> tuple[str, str, list[str]]:
        """Side ``p``'s user (start, end, group columns)."""
        return (self.names[f"__{p}s"], self.names[f"__{p}e"],
                [self.names[g] for g in self.cols(p + "g")])

    def user(self, *cols: str) -> list[str]:
        """Select items restoring the user's names of internal ``cols``."""
        return [f"{c} AS {_q(self.names[c])}" for c in cols]

    def restore(self, *cols: str) -> list[str]:
        """Select items giving back the user's columns ``cols``, each read
        from the internal name of its first role."""
        first: dict[str, str] = {}
        for a, c in self.names.items():
            first.setdefault(c, a)
        return self.user(*(first[c] for c in cols))

    def bound(self, sql: str, name: str, like: str | None = None) -> str:
        """Select item of the BIGINT bound ``sql`` as ``name``: a DATE for
        date intervals, else of bound ``like``'s type (BIGINT if None)."""
        if self.is_date:
            sql = f"date_add(DATE'{_EPOCH}', CAST({sql} AS INT))"
        elif like is not None:
            sql = f"CAST({sql} AS {self.types[like]})"
        return f"{sql} AS {_q(name)}"


def enter(
    x: DataFrame,
    interval_vars: Sequence[str] | Mapping[str, str],
    group_vars: Sequence[str] | Mapping[str, str] = (),
    value_vars: Sequence[str] = (),
    y: DataFrame | None = None,
    keep: str = "",
    out: Sequence[str] = (),
    reserved_ok: bool = True,
) -> Entry:
    """Schema checks, then x (and y) under internal names. ``interval_vars``
    and ``group_vars`` may map x names to y names; ``keep`` names the sides
    (``"x"``, ``"xy"``) whose other columns the output carries; ``out`` are
    the names the operator adds to the output (its bounds and fixed columns),
    which must differ from each other and from the names it carries: the
    group columns (y's with ``"y"`` in ``keep``) and the kept columns."""
    (x_iv, y_iv), (x_gv, y_gv) = (
        (list(n), list(n.values() if isinstance(n, Mapping) else n))
        for n in (interval_vars, group_vars))
    is_date = check_schema(x, x_iv, x_gv, value_vars, reserved_ok)
    if y is not None and check_schema(y, y_iv, y_gv, reserved_ok=reserved_ok) != is_date:
        raise IntervalSchemaError("x and y interval columns must share a class (int vs date)")
    x_rest = [c for c in x.columns if c not in (*x_iv, *x_gv)] if "x" in keep else []
    y_rest = [c for c in y.columns if c not in (*y_iv, *y_gv)] if "y" in keep else []
    if collide := set(x_rest) & {*y_rest, *y_gv} if "y" in keep else set():
        raise IntervalSchemaError(
            f"non-key column name collision between x and y: {sorted(collide)}")
    _no_collision(out, [*(y_gv if "y" in keep else x_gv), *x_rest, *y_rest])

    names: dict[str, str] = {}
    types: dict[str, str] = {}

    def alias(df: DataFrame, p: str, iv, gv, rest, values) -> DataFrame:
        cols = _roles(p, g=gv, c=rest, v=values)
        bounds = {f"__{p}s": iv[0], f"__{p}e": iv[1]}
        names.update(cols, **bounds)
        types.update({a: df.schema[c].dataType.simpleString() for a, c in bounds.items()})
        day = "datediff({}, DATE'" + _EPOCH + "')" if is_date else "{}"
        return _aliased(df, cols, *(f"CAST({day.format(_q(c))} AS BIGINT) AS {a}"
                                    for a, c in bounds.items()))

    return Entry(alias(x, "x", x_iv, x_gv, x_rest, value_vars),
                 None if y is None else alias(y, "y", y_iv, y_gv, y_rest, ()),
                 is_date, names, types)


def enter_points(
    df: DataFrame,
    ts: str,
    values: Sequence[str],
    keys: Sequence[str],
    out: Sequence[str] = (),
    keep: bool = False,
    keyed: bool = False,
    label: str = "",
) -> Entry:
    """The point-series operators' entry: the checks, then ``df`` under
    internal names in one quoted projection — keys ``__xg0…``, the order
    column ``__xt0``, values ``__xv0…`` and, with ``keep``, every other
    column ``__xc0…``. ``out`` are the names the operator adds, which must
    differ from each other and from the names it carries: the keys, and
    with ``keep`` every input column. ``keyed`` operators need a key;
    ``label`` names the frame in the missing-column message."""
    keys, values = list(keys), list(values)
    if missing := [c for c in (ts, *values, *keys) if c not in df.columns]:
        raise IntervalSchemaError(f"missing {label}column(s) {missing}")
    if keyed and not keys:
        raise IntervalSchemaError(
            "group_vars must be non-empty (a per-series operator needs >= 1 group var)")
    _no_collision(out, df.columns if keep else keys)
    rest = [c for c in df.columns if c not in (ts, *values, *keys)] if keep else []
    names = _roles("x", g=keys, t=[ts], v=values, c=rest)
    dt = df.schema[ts].dataType
    return Entry(_aliased(df, names), None,
                 isinstance(dt, T.DateType), names, {"__xt0": dt.simpleString()})
