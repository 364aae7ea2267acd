"""rate / rolling / windowed_percentiles unit + differential tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from intervalaverage_spark.operators.analytics import (
    rate,
    rolling,
    windowed_percentiles,
)
from intervalaverage_spark.validation import IntervalSchemaError


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.RandomState(47)
    n = 2000
    pdf = pd.DataFrame({
        "k": rng.randint(0, 8, n),
        "t": rng.randint(0, 50000, n),
        "v": (rng.rand(n) * 100).round(6),
    }).drop_duplicates(["k", "t"])
    return pdf, spark.createDataFrame(pdf)


def test_rate_gauge_matches_pandas(pts):
    pdf, df = pts
    got = rate(df, "t", "v", ["k"]).toPandas().sort_values(
        ["k", "t"]).reset_index(drop=True)
    p = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want = p.groupby("k", group_keys=False)[["t", "v"]].apply(
        lambda g: (g["v"].diff() / g["t"].diff()))
    assert np.allclose(got["rate"].fillna(-9), want.fillna(-9))


def test_rate_counter_reset_semantics(spark):
    # counter 0→10→3 (reset) → rate over Δt=10 each: 1.0 then 0.3
    pdf = pd.DataFrame({"k": [1, 1, 1], "t": [0, 10, 20], "v": [0.0, 10.0, 3.0]})
    df = spark.createDataFrame(pdf)
    zero = rate(df, "t", "v", ["k"], counter_reset="zero").toPandas().sort_values("t")
    assert np.allclose(zero["rate"].fillna(-9), [-9, 1.0, 0.3])
    none = rate(df, "t", "v", ["k"]).toPandas().sort_values("t")
    assert np.allclose(none["rate"].fillna(-9), [-9, 1.0, -0.7])
    # duplicate timestamp → NULL, never a division by zero
    dup = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "t": [5, 5], "v": [1.0, 2.0]}))
    assert rate(dup, "t", "v", ["k"]).filter(
        F.col("rate").isNotNull()).count() == 0


def test_rolling_matches_pandas_time_window(pts):
    pdf, df = pts
    got = rolling(df, "t", "v", 1000, ["k"], aggs=("sum", "count")).toPandas()
    got = got.sort_values(["k", "t"]).reset_index(drop=True)
    p = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    sums, cnts = [], []
    for _, g in p.groupby("k"):
        t = g["t"].to_numpy()
        v = g["v"].to_numpy()
        for i in range(len(g)):
            m = (t >= t[i] - 1000) & (t <= t[i])
            sums.append(v[m].sum())
            cnts.append(int(m.sum()))
    assert np.allclose(got["v_roll_sum"], sums)
    assert np.array_equal(got["v_roll_count"].to_numpy(), np.array(cnts))


def test_windowed_percentiles_match_numpy(pts):
    pdf, df = pts
    got = windowed_percentiles(df, "t", "v", 10000, [0.5, 0.95], ["k"])
    got = got.toPandas().sort_values(["k", "bucket"]).reset_index(drop=True)
    p = pdf.copy()
    p["bucket"] = p["t"] // 10000
    want = p.groupby(["k", "bucket"])["v"].agg(
        p50=lambda s: np.percentile(s, 50),   # numpy 'linear' == Spark/DuckDB
        p95=lambda s: np.percentile(s, 95),
        n_points="count",
    ).reset_index().sort_values(["k", "bucket"]).reset_index(drop=True)
    assert np.allclose(got["p50"], want["p50"])
    assert np.allclose(got["p95"], want["p95"])
    assert np.array_equal(got["n_points"].to_numpy(), want["n_points"].to_numpy())


def test_analytics_error_contracts(pts):
    _, df = pts
    with pytest.raises(IntervalSchemaError, match="counter_reset"):
        rate(df, "t", "v", ["k"], counter_reset="wrap")
    with pytest.raises(IntervalSchemaError, match="unknown aggs"):
        rolling(df, "t", "v", 10, ["k"], aggs=("median",))
    with pytest.raises(IntervalSchemaError, match="window"):
        rolling(df, "t", "v", -1, ["k"])
    with pytest.raises(IntervalSchemaError, match="outside"):
        windowed_percentiles(df, "t", "v", 10, [1.5], ["k"])
    with pytest.raises(IntervalSchemaError, match="missing"):
        rate(df, "nope", "v", ["k"])


def test_percentile_col_names_numeric_derivation():
    from intervalaverage_spark.operators.analytics import percentile_col_name

    # endpoints and sub-percent precision: no '.' ever appears in a name
    assert [percentile_col_name(p) for p in (0.0, 0.05, 0.5, 0.95, 0.999, 1.0)] \
        == ["p00", "p05", "p50", "p95", "p99_9", "p100"]


def test_windowed_percentiles_caller_names_and_endpoints(pts):
    pdf, df = pts
    got = windowed_percentiles(
        df, "t", "v", 100000, [0.0, 1.0], ["k"], names=["lo", "hi"]
    ).toPandas().sort_values(["k", "bucket"]).reset_index(drop=True)
    p = pdf.copy()
    p["bucket"] = p["t"] // 100000
    want = p.groupby(["k", "bucket"])["v"].agg(lo="min", hi="max").reset_index()
    want = want.sort_values(["k", "bucket"]).reset_index(drop=True)
    assert np.allclose(got["lo"], want["lo"])
    assert np.allclose(got["hi"], want["hi"])


def test_windowed_percentiles_approx_rank_bound(pts):
    """approx path: each returned value is an actual element of its bucket
    whose rank is within the Greenwald-Khanna guarantee (n/accuracy, +1
    for the discrete-vs-interpolated convention)."""
    pdf, df = pts
    acc = 10000
    got = windowed_percentiles(
        df, "t", "v", 10000, [0.5, 0.95], ["k"], exact=False, accuracy=acc
    ).toPandas()
    p = pdf.copy()
    p["bucket"] = p["t"] // 10000
    groups = {k: np.sort(g["v"].to_numpy()) for k, g in p.groupby(["k", "bucket"])}
    for _, row in got.iterrows():
        vals = groups[(row["k"], row["bucket"])]
        n = len(vals)
        for q, col in ((0.5, "p50"), (0.95, "p95")):
            idx = np.searchsorted(vals, row[col])
            assert idx < n and np.isclose(vals[idx], row[col]), \
                "approx percentile must be an element of the bucket"
            target = q * (n - 1)
            assert abs(idx - target) <= n / acc + 1


def test_windowed_percentiles_approx_bounded_state_plan(pts):
    """Both paths aggregate via TypedImperativeAggregate
    (ObjectHashAggregate); the approx path's value is BOUNDED per-group
    state. Assert the plan uses percentile_approx (the mergeable sketch),
    not the buffer-everything exact percentile."""
    _, df = pts
    plan = windowed_percentiles(
        df, "t", "v", 10000, [0.5], ["k"], exact=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" in plan
    assert "percentile(" not in plan


def test_rate_bucketed_equals_flat_on_seeded(pts):
    pdf, df = pts
    # and a NULL key whose points straddle bucket edges
    df = df.unionByName(df.sparkSession.createDataFrame(
        [(None, t, float(t % 7)) for t in (490, 510, 990, 1010, 1600)], df.schema))
    flat = rate(df, "t", "v", ["k"]).toPandas().sort_values(
        ["k", "t"]).reset_index(drop=True)
    buck = rate(df, "t", "v", ["k"], bucket_width=500).toPandas().sort_values(
        ["k", "t"]).reset_index(drop=True)
    assert np.allclose(flat["rate"].fillna(-9), buck["rate"].fillna(-9))


def test_rate_validate_raises_on_duplicate_ts(spark):
    from intervalaverage_spark.validation import IntervalDataError

    dup = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "t": [5, 5], "v": [1.0, 2.0]}))
    with pytest.raises(IntervalDataError, match="duplicate"):
        rate(dup, "t", "v", ["k"], validate=True)
    # and the non-duplicated frame passes the same check
    ok = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "t": [5, 6], "v": [1.0, 2.0]}))
    assert rate(ok, "t", "v", ["k"], validate=True).count() == 2


def test_analytics_output_collision_guards(pts):
    _, df = pts
    with pytest.raises(IntervalSchemaError, match="already exist"):
        rate(df, "t", "v", ["k"], out_col="v")
    with pytest.raises(IntervalSchemaError, match="already exist"):
        rolling(df.withColumn("v_roll_mean", F.lit(0.0)), "t", "v", 10, ["k"])


def test_rolling_decomposable_equals_direct_frame(spark):
    """Prefix-sum + as-of formulation must reproduce the direct RANGE
    frame exactly — integer-valued doubles make the subtraction exact.
    Covers NULL-only frames (sum/mean must stay NULL, not become 0),
    duplicate timestamps (all rows at equal t share one frame), and
    bucket widths from degenerate (1) to everything-in-one-bucket."""
    import random

    from intervalaverage_spark.operators.analytics import rolling_decomposable

    random.seed(3)
    rows = []
    for k in range(4):
        for t in sorted(random.sample(range(0, 500), 60)):
            v = None if random.random() < 0.3 else float(random.randint(-50, 50))
            rows.append((k, t, v))
    rows += [(9, 10, 5.0), (9, 10, 7.0), (9, 40, None), (9, 41, None),
             (9, 90, 1.0)]
    # a NULL key keeps its running sums across buckets
    rows += [(None, t, v) for k, t, v in rows if k == 0]
    df = spark.createDataFrame(rows, "k int, t int, v double")

    def _rows(out):
        return sorted((tuple(r) for r in out.collect()),
                      key=lambda r: tuple((x is None, x) for x in r))

    want = _rows(rolling(df, "t", "v", 100, ["k"], aggs=("sum", "count", "mean")))
    for bw in (None, 1, 37, 1000):
        got = _rows(rolling_decomposable(df, "t", "v", 100, ["k"], bucket_width=bw))
        assert got == want, bw


def test_rolling_decomposable_rejects_non_invertible_aggs(spark):
    from intervalaverage_spark.operators.analytics import rolling_decomposable

    df = spark.createDataFrame([(1, 1, 1.0)], "k int, t int, v double")
    with pytest.raises(IntervalSchemaError, match="not decomposable"):
        rolling_decomposable(df, "t", "v", 10, ["k"], aggs=("min",))


def test_rolling_minmax_equals_direct_frame(spark):
    """Two-block decomposition must reproduce the direct RANGE frame
    min/max exactly (min/max never round — doubles included). Covers
    NULL-only frames, duplicate timestamps, negative values, and window
    widths from degenerate (1) to everything-in-two-blocks (1000)."""
    import random

    from intervalaverage_spark.operators.analytics import rolling_minmax

    random.seed(11)
    rows = []
    for k in range(4):
        for t in sorted(random.sample(range(0, 500), 60)):
            v = None if random.random() < 0.3 else random.uniform(-50, 50)
            rows.append((k, t, v))
    rows += [(9, 10, 5.0), (9, 10, 7.0), (9, 40, None), (9, 41, None),
             (9, 90, 1.0)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    for w in (0, 1, 37, 100, 1000):
        want = sorted((tuple(r) for r in rolling(
            df, "t", "v", w, ["k"], aggs=("min", "max")).collect()),
            key=lambda r: tuple((x is None, x) for x in r))
        got = sorted((tuple(r) for r in rolling_minmax(
            df, "t", "v", w, ["k"]).collect()),
            key=lambda r: tuple((x is None, x) for x in r))
        assert got == want, w


def test_rolling_minmax_assume_unique_matches_and_validates(spark):
    import random

    from intervalaverage_spark.operators.analytics import rolling_minmax
    from intervalaverage_spark.validation import IntervalDataError

    random.seed(12)
    rows = [(k, t, random.uniform(-5, 5) if random.random() > 0.2 else None)
            for k in range(3) for t in sorted(random.sample(range(0, 300), 40))]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    for w in (0, 37):
        want = sorted((tuple(r) for r in rolling(
            df, "t", "v", w, ["k"], aggs=("min", "max")).collect()),
            key=lambda r: tuple((x is None, x) for x in r))
        got = sorted((tuple(r) for r in rolling_minmax(
            df, "t", "v", w, ["k"], assume_unique_ts=True).collect()),
            key=lambda r: tuple((x is None, x) for x in r))
        assert got == want, w
    dup = spark.createDataFrame([(1, 5, 1.0), (1, 5, 2.0)],
                                "k int, t int, v double")
    with pytest.raises(IntervalDataError, match="duplicate"):
        rolling_minmax(dup, "t", "v", 10, ["k"],
                       assume_unique_ts=True, validate=True)


def test_rolling_minmax_rejects_decomposable_aggs(spark):
    from intervalaverage_spark.operators.analytics import rolling_minmax

    df = spark.createDataFrame([(1, 1, 1.0)], "k int, t int, v double")
    with pytest.raises(IntervalSchemaError, match="not supported"):
        rolling_minmax(df, "t", "v", 10, ["k"], aggs=("sum",))


def test_rolling_decomposable_assume_unique_matches_and_validates(spark):
    import random

    from intervalaverage_spark.operators.analytics import rolling_decomposable
    from intervalaverage_spark.validation import IntervalDataError

    random.seed(13)
    rows = [(k, t, float(random.randint(-50, 50)) if random.random() > 0.2
             else None)
            for k in range(3) for t in sorted(random.sample(range(0, 300), 40))]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    want = sorted((tuple(r) for r in rolling(
        df, "t", "v", 100, ["k"], aggs=("sum", "count", "mean")).collect()),
        key=lambda r: tuple((x is None, x) for x in r))
    for bw in (None, 37):
        got = sorted((tuple(r) for r in rolling_decomposable(
            df, "t", "v", 100, ["k"], bucket_width=bw,
            assume_unique_ts=True).collect()),
            key=lambda r: tuple((x is None, x) for x in r))
        assert got == want, bw
    dup = spark.createDataFrame([(1, 5, 1.0), (1, 5, 2.0)],
                                "k int, t int, v double")
    with pytest.raises(IntervalDataError, match="duplicate"):
        rolling_decomposable(dup, "t", "v", 10, ["k"],
                             assume_unique_ts=True, validate=True)


def test_windowed_percentiles_rejects_duplicate_output_names(pts):
    _, df = pts
    with pytest.raises(IntervalSchemaError, match="duplicate output"):
        windowed_percentiles(df, "t", "v", 10, [0.5, 0.5], ["k"])
    with pytest.raises(IntervalSchemaError, match="duplicate output"):
        windowed_percentiles(df, "t", "v", 10, [0.5], ["k"], names=["k"])
    with pytest.raises(IntervalSchemaError, match="duplicate output"):
        windowed_percentiles(df, "t", "v", 10, [0.5], ["k"],
                             names=["n_points"])
