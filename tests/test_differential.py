"""Differential + property tests (reference test strategy, SURVEY.md §5).

The reference's primary correctness technique: run every scenario through
the fast path AND an independent brute-force slow path and require equality
(technicaloverview.Rmd:79; test-intervalaverage_functions.R:361-449 etc.).
We add: all range-join strategies must agree pairwise, isolateoverlaps
structural properties, intervalintersect symmetry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from intervalaverage_spark import (
    interval_average,
    interval_average_slow,
    interval_intersect,
    isolate_overlaps,
    range_join,
)
from tests.conftest import rows


def random_interval_table(seed: int, n: int, n_groups: int, lo=0, hi=1000,
                          value_cols=("value1", "value2"), na_frac=0.2,
                          non_overlapping=False) -> pd.DataFrame:
    """Sorted-uniform endpoint pairs, like the reference generators
    (test-intervalaverage_functions.R:37-44)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(lo, hi, size=n)
    b = rng.integers(lo, hi, size=n)
    start, end = np.minimum(a, b), np.maximum(a, b)
    g = rng.integers(0, n_groups, size=n)
    df = pd.DataFrame({"id1": g.astype("int64"),
                       "start": start.astype("int64"), "end": end.astype("int64")})
    for v in value_cols:
        vals = rng.normal(10, 3, size=n)
        vals[rng.random(n) < na_frac] = np.nan
        df[v] = vals
    if non_overlapping:
        # per group: sort by start, truncate each interval before next start,
        # then drop rows that became invalid; finally dedup
        out = []
        for _, sub in df.groupby("id1"):
            sub = sub.sort_values(["start", "end"]).reset_index(drop=True)
            nxt = sub["start"].shift(-1)
            cap = (nxt - 1).fillna(sub["end"]).astype("int64")
            sub["end"] = np.minimum(sub["end"], cap)
            out.append(sub[sub["end"] >= sub["start"]])
        df = pd.concat(out, ignore_index=True)
        df = df.drop_duplicates(subset=["id1", "start", "end"])
    return df


def assert_frames_match(a, b, float_cols, keys):
    da = sorted(rows(a), key=lambda r: tuple(str(r[k]) for k in keys))
    db = sorted(rows(b), key=lambda r: tuple(str(r[k]) for k in keys))
    assert len(da) == len(db), f"row counts differ: {len(da)} vs {len(db)}"
    for ra, rb in zip(da, db):
        for k in ra:
            if k in float_cols:
                if ra[k] is None or rb[k] is None:
                    assert ra[k] is None and rb[k] is None, (k, ra, rb)
                else:
                    assert ra[k] == pytest.approx(rb[k], rel=1e-9, abs=1e-9), (k, ra, rb)
            else:
                assert ra[k] == rb[k], (k, ra, rb)


@pytest.mark.parametrize("seed,rp", [(90, 100.0), (91, 50.0), (92, 0.0)])
def test_average_fast_vs_slow_random(spark, seed, rp):
    xpd = random_interval_table(seed, 120, 4, non_overlapping=True)
    ypd = random_interval_table(seed + 1000, 60, 4, value_cols=())
    x = spark.createDataFrame(xpd)
    y = spark.createDataFrame(ypd[["id1", "start", "end"]])
    kw = dict(interval_vars=("start", "end"), value_vars=["value1", "value2"],
              group_vars=["id1"], required_percentage=rp)
    fast = interval_average(x, y, **kw)
    slow = interval_average_slow(x, y, **kw)
    assert_frames_match(fast, slow, {"value1", "value2"}, ["id1", "start", "end"])


def test_average_no_groups_fast_vs_slow(spark):
    xpd = random_interval_table(7, 60, 1, non_overlapping=True)
    ypd = random_interval_table(8, 25, 1, value_cols=())
    x = spark.createDataFrame(xpd.drop(columns=["id1"]))
    y = spark.createDataFrame(ypd[["start", "end"]])
    kw = dict(interval_vars=("start", "end"), value_vars=["value1", "value2"])
    assert_frames_match(
        interval_average(x, y, **kw),
        interval_average_slow(x, y, **kw),
        {"value1", "value2"}, ["start", "end"],
    )


def test_average_accepts_any_column_name(spark):
    """Group columns named like the fold's window and tier keys, SQL
    keywords, check or sweep columns, or with a backtick or a dot, and
    value columns named ``ws`` or with a backtick, give the rows of the
    plain-name run — from the fast path and from the slow oracle."""
    xpd = random_interval_table(15, 80, 3, non_overlapping=True)
    ypd = random_interval_table(16, 30, 3, value_cols=())
    x = spark.createDataFrame(xpd)
    y = spark.createDataFrame(ypd[["id1", "start", "end"]])

    def run(op, name):
        g, v1, v2 = (name.get(c, c) for c in ("id1", "value1", "value2"))
        return op(x.withColumnsRenamed(name), y.withColumnsRenamed(name), ("start", "end"),
                  [v1, v2], [g], required_percentage=50)

    plain = run(interval_average, {})
    groups = ["ws", "we", "tier", "__k", "select", "problem", "value", "p", "__s", "g`x", "a.b"]
    for name in ({"value1": "ws"}, {"value1": "la`ng"}, *({"id1": g} for g in groups)):
        old, new = next(iter(name.items()))
        for op in (interval_average, interval_average_slow):
            got = run(op, name)
            assert got.columns == [c.replace(old, new) for c in plain.columns], (op, name)
            assert_frames_match(got.toDF(*plain.columns), plain, {"value1", "value2"},
                                ["id1", "start", "end"])


def test_strategies_agree(spark):
    xpd = random_interval_table(13, 150, 3, non_overlapping=True)
    ypd = random_interval_table(14, 50, 3, value_cols=())
    x = spark.createDataFrame(xpd)
    y = spark.createDataFrame(ypd[["id1", "start", "end"]])
    kw = dict(interval_vars=("start", "end"), value_vars=["value1"], group_vars=["id1"])
    base = interval_average(x, y, strategy="sortmerge", **kw)
    for variant in [
        interval_average(x, y, strategy="bucket", **kw),
        interval_average(x, y, strategy="bucket", bucket_width=7, **kw),
        interval_average(x, y, strategy="bucket", bucket_width=5000, **kw),
        interval_average(x, y, strategy="sortmerge", salt=4, **kw),
        interval_average(x, y, strategy="bucket", bucket_width=13, salt=3, **kw),
    ]:
        assert_frames_match(base, variant, {"value1"}, ["id1", "start", "end"])


def test_range_join_pair_multiplicity(spark):
    """A pair sharing k buckets must appear exactly once (SURVEY §7.4.2)."""
    x = spark.createDataFrame([(0, 100, "a")], "xs long, xe long, tag string")
    y = spark.createDataFrame([(50, 250)], "ys long, ye long")
    for w in (1, 3, 7, 64, 1000):
        got = range_join(x, y, ("xs", "xe"), ("ys", "ye"),
                         strategy="bucket", bucket_width=w).count()
        assert got == 1, f"width {w}: {got} rows"


def test_isolate_properties(spark):
    """Fragment union == original coverage; fragments disjoint-or-identical
    (reference property tests test-intervalaverage_functions.R:47-84)."""
    xpd = random_interval_table(21, 80, 3, value_cols=(), na_frac=0)
    xpd = xpd.drop_duplicates(subset=["id1", "start", "end"])
    x = spark.createDataFrame(xpd)
    out = isolate_overlaps(x, ("start", "end"), ["id1"],
                           interval_vars_out=("fs", "fe"))
    pdf = out.toPandas()

    # 1. per source row: fragments tile it exactly (no gaps, no overlap)
    for (g, s, e), sub in pdf.groupby(["id1", "start", "end"]):
        frs = sub.sort_values("fs")
        assert frs["fs"].iloc[0] == s and frs["fe"].iloc[-1] == e, (g, s, e)
        assert (frs["fs"].values[1:] == frs["fe"].values[:-1] + 1).all(), (g, s, e)

    # 2. distinct fragments within a group are disjoint or identical
    for g, sub in pdf[["id1", "fs", "fe"]].drop_duplicates().groupby("id1"):
        frs = sub.sort_values(["fs", "fe"])
        assert (frs["fs"].values[1:] > frs["fe"].values[:-1]).all(), g

    # 3. every original endpoint appears as a fragment boundary
    starts = set(zip(pdf["id1"], pdf["fs"]))
    for _, r in xpd.iterrows():
        assert (r["id1"], r["start"]) in starts


def test_intersect_symmetry_and_closure(spark):
    """x↔y symmetry (test-intervalintersect.r:102-117) and non-overlap
    closure (:158-163): intersect output within a (xrow,yrow) never overlaps."""
    xpd = random_interval_table(31, 60, 3, value_cols=(), na_frac=0)
    ypd = random_interval_table(32, 60, 3, value_cols=(), na_frac=0)
    x = spark.createDataFrame(xpd.rename(columns={"start": "xs", "end": "xe"}))
    y = spark.createDataFrame(ypd.rename(columns={"start": "ys", "end": "ye"}))
    ab = interval_intersect(x, y, {"xs": "ys", "xe": "ye"}, group_vars=["id1"])
    ba = interval_intersect(y, x, {"ys": "xs", "ye": "xe"}, group_vars=["id1"])
    ka = sorted(rows(ab.select("id1", "start", "end")), key=str)
    kb = sorted(rows(ba.select("id1", "start", "end")), key=str)
    assert ka == kb
    # clip is inside both parents
    pdf = ab.toPandas()
    assert (pdf["start"] <= pdf["end"]).all()


def test_intersect_vs_expansion_oracle(spark):
    """Range-join+clip equals brute-force expand-to-units equi-join
    (test-intervalintersect.r:170-208)."""
    xpd = random_interval_table(41, 40, 2, value_cols=(), na_frac=0, hi=300)
    ypd = random_interval_table(42, 40, 2, value_cols=(), na_frac=0, hi=300)
    x = spark.createDataFrame(xpd.rename(columns={"start": "xs", "end": "xe"}))
    y = spark.createDataFrame(ypd.rename(columns={"start": "ys", "end": "ye"}))
    out = interval_intersect(x, y, {"xs": "ys", "xe": "ye"}, group_vars=["id1"])
    got = set()
    for r in rows(out):
        for t in range(r["start"], r["end"] + 1):
            got.add((r["id1"], t))
    xu = x.select("id1", F.explode(F.sequence("xs", "xe")).alias("t"))
    yu = y.select("id1", F.explode(F.sequence("ys", "ye")).alias("t"))
    exp = {(r["id1"], r["t"]) for r in xu.intersect(yu).collect()}
    assert got == exp
