"""The operators' one entry layer (``validation.enter``): user columns are
aliased once to internal names, so any column name and any key type works,
and plans are SQL text, so they build in few driver → JVM calls."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from intervalaverage_spark import (
    interval_average,
    interval_coalesce,
    interval_intersect,
    is_overlapping,
    isolate_overlaps,
)
from intervalaverage_spark.operators.analytics import rate, rolling_decomposable
from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.coalesce import interval_concurrency, interval_gaps
from intervalaverage_spark.operators.difference import interval_difference
from intervalaverage_spark.operators.fill import interpolate_linear, locf, nocb
from intervalaverage_spark.operators.overlap import overlap_flags
from intervalaverage_spark.operators.sessions import session_bounds, sessionize
from intervalaverage_spark.validation import IntervalSchemaError, _q
from tests.conftest import _py4j_calls

#: names spelled like SQL keywords, internal, state or output columns, or
#: that a column path would parse (backtick, dot)
NAMES = ["ws", "we", "tier", "__k", "select", "problem", "value", "p", "__s", "g`x", "a.b"]

#: one group column per key type; every row's keys are one key k in each
#: type, or NULL in all of them
KEYS = ["k_str", "k_long", "k_dec", "k_date"]
KEY_SCHEMA = "k_str string, k_long bigint, k_dec decimal(10,2), k_date date"


def _keys(k):
    if k is None:
        return (None,) * 4
    return (f"k{k}", k, Decimal(k) / 4, datetime.date(2020, 1, 1) + datetime.timedelta(days=k))


OPS = {
    **{f"average-validate{v}": (lambda x, y, g, v=v: interval_average(
        x, y, ("start", "end"), ["v"], g, required_percentage=0, validate=v))
       for v in (True, False)},
    **{f"intersect-validate{v}": (lambda x, y, g, v=v: interval_intersect(
        x, y.withColumnsRenamed({"start": "ys", "end": "ye"}), {"start": "ys", "end": "ye"}, g,
        validate=v, sort=False)) for v in (True, False)},
    **{f"isolate-validate{v}": (lambda x, y, g, v=v: isolate_overlaps(
        y, ("start", "end"), g, interval_vars_out=("fs", "fe"), validate=v, sort=False))
       for v in (True, False)},
    **{f"is_overlapping-validate{v}": (lambda x, y, g, v=v: is_overlapping(
        y, ("start", "end"), g, validate=v)) for v in (True, False)},
    **{f"overlap_flags-validate{v}": (lambda x, y, g, v=v: overlap_flags(
        y, ("start", "end"), g, validate=v)) for v in (True, False)},
    "coalesce": lambda x, y, g: interval_coalesce(y, ("start", "end"), g, sort=False),
    "gaps": lambda x, y, g: interval_gaps(x, ("start", "end"), g, sort=False),
    "concurrency": lambda x, y, g: interval_concurrency(y, ("start", "end"), g, sort=False),
    "difference": lambda x, y, g: interval_difference(
        x, y.withColumnsRenamed({"start": "ys", "end": "ye"}), {"start": "ys", "end": "ye"}, g,
        sort=False),
}


@pytest.fixture(scope="module")
def frames(spark):
    """x: non-overlapping rows with a value and a kept column; y:
    overlapping windows. Keys 0, 1 and NULL."""
    x = spark.createDataFrame(
        [(*_keys(k), s, e, v, t) for k, s, e, v, t in [
            (0, 0, 9, 1.0, "a"), (0, 12, 15, 2.0, "b"), (1, 2, 8, None, "c"),
            (1, 10, 20, 4.5, "d"), (None, 3, 5, 3.0, "e")]],
        f"{KEY_SCHEMA}, start bigint, `end` bigint, v double, tag string")
    y = spark.createDataFrame(
        [(*_keys(k), s, e) for k, s, e in [
            (0, 0, 20), (0, 5, 6), (1, 5, 12), (None, 0, 4), (None, 4, 9)]],
        f"{KEY_SCHEMA}, start bigint, `end` bigint")
    return x, y


def _result(out):
    """Columns and sorted rows (floats rounded) of an operator's output."""
    if isinstance(out, bool):
        return out
    rows = [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in out.collect()]
    return out.columns, sorted(rows, key=repr)


#: the names in runs of one per key column
NAME_SETS = [NAMES[i:i + len(KEYS)] for i in range(0, len(NAMES), len(KEYS))]


@pytest.fixture(scope="module")
def plain_results():
    """Each operator's result under the plain key names, once computed."""
    return {}


@pytest.mark.parametrize("op", list(OPS))
@pytest.mark.parametrize("names", NAME_SETS, ids=",".join)
def test_any_name_any_key(frames, plain_results, op, names):
    """Group columns of every key type (string, long, decimal and date,
    with NULL keys in each), the first ones renamed to ``names``, give the
    columns and rows of the plain-name run, or a named
    IntervalSchemaError."""
    x, y = frames
    build = OPS[op]
    if op not in plain_results:
        plain_results[op] = _result(build(x, y, KEYS))
    want = plain_results[op]
    rename = dict(zip(KEYS, names))
    try:
        got = _result(build(x.withColumnsRenamed(rename), y.withColumnsRenamed(rename),
                            [rename.get(k, k) for k in KEYS]))
    except IntervalSchemaError:
        return
    if isinstance(want, bool):
        assert got == want
    else:
        assert got == ([rename.get(c, c) for c in want[0]], want[1])


#: the point-series operators over a frame of key, time and value columns
#: ``k``, ``t`` and ``v``, flat and bucketed (``bw``)
POINT_OPS = {
    "asof-backward": lambda d, bw, k, t, v: asof_join(
        d, d.where(f"{_q(v)} IS NOT NULL"), [k], t, t, [v], bucket_width=bw),
    "asof-forward": lambda d, bw, k, t, v: asof_join(
        d, d.where(f"{_q(v)} IS NOT NULL"), [k], t, t, [v], direction="forward", bucket_width=bw),
    "locf": lambda d, bw, k, t, v: locf(d, t, [v], [k], limit=20, bucket_width=bw),
    "nocb": lambda d, bw, k, t, v: nocb(d, t, [v], [k], bucket_width=bw),
    "interpolate": lambda d, bw, k, t, v: interpolate_linear(d, t, [v], [k], bucket_width=bw),
    "rate": lambda d, bw, k, t, v: rate(d, t, v, [k], bucket_width=bw, validate=True),
    "sessionize": lambda d, bw, k, t, v: sessionize(d, t, 8, [k], bucket_width=bw),
    "session_bounds": lambda d, bw, k, t, v: session_bounds(d, t, 8, [k], v, bucket_width=bw),
    "rolling": lambda d, bw, k, t, v: rolling_decomposable(d, t, v, 15, [k], bucket_width=bw),
    "rolling-unique": lambda d, bw, k, t, v: rolling_decomposable(
        d, t, v, 15, [k], bucket_width=bw, assume_unique_ts=True, validate=True),
}


def _renamed(col, names):
    """``col`` of a plain-name output under the key/order/value ``names``."""
    for plain, name in names.items():
        if col == plain or col.startswith(plain + "_"):
            return name + col[len(plain):]
        if col.endswith("_" + plain):
            return col[:-len(plain)] + name
    return col


@pytest.fixture(scope="module")
def points(spark):
    """Keys 0, 1 and NULL; points 10 apart with NULL values."""
    return spark.createDataFrame(
        [(k, t, None if t % 30 == 0 else float(t % 7)) for k in (0, 1, None)
         for t in range(0, 60, 5 if k else 10)], "k long, t long, v double")


@pytest.mark.parametrize("bw", [None, 10])
@pytest.mark.parametrize("op", list(POINT_OPS))
@pytest.mark.parametrize("names", [{"k": "a.b", "t": "g`x", "v": "v.`w"},
                                   {"k": "g`x", "t": "a.b", "v": "x y"}],
                         ids=["dot-key", "dot-order"])
def test_point_ops_any_name(points, op, bw, names):
    """A key, order or value column of any name gives the columns and rows
    of the plain-name run, flat and bucketed."""
    want = _result(POINT_OPS[op](points, bw, "k", "t", "v"))
    got = _result(POINT_OPS[op](points.withColumnsRenamed(names), bw,
                                names["k"], names["t"], names["v"]))
    assert got == ([_renamed(c, names) for c in want[0]], want[1])


def test_plans_build_in_few_py4j_calls(spark, monkeypatch):
    """isolate_overlaps and interval_intersect are SQL text over internal
    names: building their plans (one group, validate off, sortmerge) takes
    183 and 139 driver → JVM calls, where the Column-built plans took 885
    and 295."""
    x = spark.createDataFrame([("a", 0, 9, 1.0, "t")],
                              "g string, s bigint, e bigint, v double, tag string")
    y = spark.createDataFrame([("a", 0, 20, 2)], "g string, ys bigint, ye bigint, w int")
    x.schema, y.schema  # noqa: B018 — the schemas are fetched once, outside the count
    n_isolate = _py4j_calls(spark, monkeypatch, lambda: isolate_overlaps(
        x, ("s", "e"), ["g"], validate=False, strategy="sortmerge"))
    n_intersect = _py4j_calls(spark, monkeypatch, lambda: interval_intersect(
        x, y, {"s": "ys", "e": "ye"}, ["g"], validate=False, strategy="sortmerge"))
    assert n_isolate <= 300 and n_intersect <= 200, (n_isolate, n_intersect)
