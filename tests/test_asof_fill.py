"""As-of join + gap-fill operators: DuckDB/pandas differential tests,
flat==bucketed property, error contracts."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.fill import interpolate_linear, locf, nocb
from intervalaverage_spark.validation import IntervalSchemaError


@pytest.fixture(scope="module")
def lr(spark):
    rng = np.random.RandomState(11)
    n = 2000
    lpd = pd.DataFrame({
        "k": rng.randint(0, 15, n),
        "t": rng.randint(0, 8000, n),
        "lv": rng.randn(n).round(6),
    })
    rpd = pd.DataFrame({
        "k": rng.randint(0, 15, n),
        "t": rng.randint(0, 8000, n),
        "rv": rng.randn(n).round(6),
    }).drop_duplicates(["k", "t"])
    return lpd, rpd, spark.createDataFrame(lpd), spark.createDataFrame(rpd)


def _oracle(lpd, rpd, op, tol_expr=""):
    con = duckdb.connect()
    con.register("l", lpd)
    con.register("r", rpd)
    if tol_expr:
        sel = (f"CASE WHEN {tol_expr} THEN r.t END AS t_right, "
               f"CASE WHEN {tol_expr} THEN r.rv END AS rv_right")
    else:
        sel = "r.t AS t_right, r.rv AS rv_right"
    q = (f"SELECT l.k, l.t, l.lv, {sel} "
         f"FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.t {op} r.t")
    return con.execute(q).df().sort_values(["k", "t", "lv"]).reset_index(drop=True)


def _sorted(df):
    return df.toPandas().sort_values(["k", "t", "lv"]).reset_index(drop=True)


def _match(got, want):
    assert len(got) == len(want)
    assert np.allclose(got["t_right"].astype(float).fillna(-1),
                       want["t_right"].astype(float).fillna(-1))
    assert np.allclose(got["rv_right"].astype(float).fillna(-9),
                       want["rv_right"].astype(float).fillna(-9))


@pytest.mark.parametrize("bw", [None, 500])
def test_asof_backward_matches_duckdb(lr, bw):
    lpd, rpd, l, r = lr
    got = _sorted(asof_join(l, r, ["k"], "t", "t", ["rv"], bucket_width=bw))
    _match(got, _oracle(lpd, rpd, ">="))


@pytest.mark.parametrize("bw", [None, 500])
def test_asof_forward_matches_duckdb(lr, bw):
    lpd, rpd, l, r = lr
    got = _sorted(asof_join(l, r, ["k"], "t", "t", ["rv"],
                            direction="forward", bucket_width=bw))
    _match(got, _oracle(lpd, rpd, "<="))


@pytest.mark.parametrize("direction,op,tol_expr", [
    ("backward", ">=", "l.t - r.t <= 250"),
    ("forward", "<=", "r.t - l.t <= 250"),
])
def test_asof_tolerance(lr, direction, op, tol_expr):
    lpd, rpd, l, r = lr
    got = _sorted(asof_join(l, r, ["k"], "t", "t", ["rv"],
                            direction=direction, tolerance=250, bucket_width=700))
    _match(got, _oracle(lpd, rpd, op, tol_expr))


def test_asof_bucketed_equals_flat_tiny_buckets(lr):
    # bucket_width=1 forces the carry path for nearly every left row; a
    # copy of key 3 under a NULL key must keep its carry too, both ways
    _, _, l, r = lr
    l, r = (d.unionByName(d.where("k = 3").withColumn("k", F.lit(None).cast("long")))
            for d in (l, r))
    for direction in ("backward", "forward"):
        flat = _sorted(asof_join(l, r, ["k"], "t", "t", ["rv"], direction=direction))
        tiny = _sorted(asof_join(l, r, ["k"], "t", "t", ["rv"], direction=direction,
                                 bucket_width=1))
        _match(tiny, flat)


def test_asof_preserves_left_columns_and_rows(lr):
    _, _, l, r = lr
    out = asof_join(l, r, ["k"], "t", "t", ["rv"])
    assert out.columns == ["k", "t", "lv", "t_right", "rv_right"]
    assert out.count() == l.count()


def test_asof_error_contracts(lr):
    _, _, l, r = lr
    with pytest.raises(IntervalSchemaError, match="direction"):
        asof_join(l, r, ["k"], direction="nearest")
    with pytest.raises(IntervalSchemaError, match="missing"):
        asof_join(l, r, ["nope"])
    with pytest.raises(IntervalSchemaError, match="collides"):
        # right payload 'lv' + empty suffix collides with left 'lv'
        asof_join(l, r.withColumnRenamed("rv", "lv"), ["k"], "t", "t", suffix="")


@pytest.fixture(scope="module")
def fill_df(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({
        "k": np.repeat(np.arange(6), 30),
        "t": np.tile(np.arange(0, 300, 10), 6),
        "v": rng.randn(180).round(6),
    })
    pdf.loc[rng.rand(180) < 0.55, "v"] = np.nan
    # one key entirely NULL, one key fully observed
    pdf.loc[pdf.k == 4, "v"] = np.nan
    pdf.loc[pdf.k == 5, "v"] = 1.5
    return pdf, spark.createDataFrame(pdf)


def test_locf_nocb_match_pandas(fill_df):
    pdf, df = fill_df
    p = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want_f = p.groupby("k")["v"].ffill()
    want_b = p.groupby("k")["v"].bfill()
    got = (
        nocb(locf(df, "t", ["v"], ["k"], out_suffix="_f"), "t", ["v"], ["k"],
             out_suffix="_b")
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )
    assert np.allclose(got["v_f"].fillna(-9), want_f.fillna(-9))
    assert np.allclose(got["v_b"].fillna(-9), want_b.fillna(-9))


def test_locf_limit_matches_pandas(fill_df):
    pdf, df = fill_df
    p = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    # order distance 20 == 2 rows on the 10-unit grid
    want = p.groupby("k")["v"].ffill(limit=2)
    got = locf(df, "t", ["v"], ["k"], limit=20).toPandas().sort_values(
        ["k", "t"]).reset_index(drop=True)
    assert np.allclose(got["v_filled"].fillna(-9), want.fillna(-9))


def test_interpolate_matches_pandas_interior(fill_df):
    pdf, df = fill_df
    p = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    want = np.concatenate([
        g.set_index("t")["v"].interpolate(
            method="index", limit_area="inside").to_numpy()
        for _, g in p.groupby("k")
    ])
    got = interpolate_linear(df, "t", ["v"], ["k"]).toPandas().sort_values(
        ["k", "t"]).reset_index(drop=True)
    assert np.allclose(got["v_filled"].fillna(-9),
                       pd.Series(want).fillna(-9))


def test_fill_passthrough_on_observed_rows(fill_df):
    pdf, df = fill_df
    got = interpolate_linear(df, "t", ["v"], ["k"]).filter(F.col("v").isNotNull())
    mism = got.filter(F.abs(F.col("v") - F.col("v_filled")) > 1e-12).count()
    assert mism == 0


def test_fill_missing_column_raises(fill_df):
    _, df = fill_df
    with pytest.raises(IntervalSchemaError, match="missing"):
        locf(df, "t", ["nope"], ["k"])


def test_asof_empty_right_cols_returns_matched_ts(spark):
    # right side with only key+ts: the payload struct is just __rt —
    # regression for the trailing-comma DDL bug
    left = spark.createDataFrame([(1, 10), (1, 20)], "k int, ts int")
    right = spark.createDataFrame([(1, 5), (1, 15)], "k int, ts int")
    out = asof_join(left, right, ["k"], right_cols=[]).collect()
    assert sorted((r["k"], r["ts"], r["ts_right"]) for r in out) \
        == [(1, 10, 5), (1, 20, 15)]


def test_asof_validate_duplicate_right_ts(spark):
    from intervalaverage_spark.validation import IntervalDataError

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame([(1, 5, 1.0), (1, 5, 2.0)],
                                  "k int, ts int, rv double")
    with pytest.raises(IntervalDataError, match="duplicate"):
        asof_join(left, right, ["k"], validate=True)
    ok = spark.createDataFrame([(1, 5, 1.0), (1, 6, 2.0)],
                               "k int, ts int, rv double")
    assert asof_join(left, ok, ["k"], validate=True).count() == 1


def test_fill_output_collision_guard(spark):
    df = spark.createDataFrame([(1, 1, 1.0, 2.0)],
                               "k int, t int, v double, v_filled double")
    with pytest.raises(IntervalSchemaError, match="already exist"):
        locf(df, "t", ["v"], ["k"])


def test_fill_limit_double_order_exact_on_flat_path(spark):
    """A double order column's limit distance must be exact on the flat
    path (a long cast would truncate 1.5 → 1 and wrongly carry)."""
    df = spark.createDataFrame(
        [(1, 0.0, 1.0), (1, 1.5, None)], "k int, o double, v double")
    out = locf(df, "o", ["v"], ["k"], limit=1).toPandas().sort_values("o")
    assert out["v_filled"].tolist()[0] == 1.0
    assert pd.isna(out["v_filled"].tolist()[1])
    back = nocb(df.withColumn("v", F.when(F.col("o") > 1, 2.0)),
                "o", ["v"], ["k"], limit=1).toPandas().sort_values("o")
    assert pd.isna(back["v_filled"].tolist()[0])
    assert back["v_filled"].tolist()[1] == 2.0


@pytest.mark.parametrize("bw", [None, 3])
def test_fills_take_date_orders_as_days(fill_df, bw):
    """A DATE order column fills like its epoch-day number: limits count
    days and interpolation weighs by days, flat and bucketed."""
    _, df = fill_df
    days = df.withColumn("t", (F.col("t") / 10).cast("int"))
    dates = days.withColumn("t", F.date_add(F.lit("1970-01-01").cast("date"), F.col("t")))

    def run(d, day):
        out = interpolate_linear(
            nocb(locf(d, "t", ["v"], ["k"], limit=2, out_suffix="_f", bucket_width=bw),
                 "t", ["v"], ["k"], out_suffix="_b", bucket_width=bw),
            "t", ["v"], ["k"], bucket_width=bw)
        return sorted(out.selectExpr("k", f"{day} AS t", "v", "v_f", "v_b", "v_filled")
                      .collect(), key=repr)

    assert run(dates, "unix_date(t)") == run(days, "t")
