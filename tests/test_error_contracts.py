"""Error-contract tests — the reference's rejection surface is part of the
API (SURVEY.md §5.5): overlapping/duplicate x rows, reserved output names,
mixed interval classes, inverted/null bounds must all raise.

Reference citations: overlapping x rejected
tests/testthat/test-intervalaverage_functions.R:719-729, exact-dup x
rejected :734-743, reserved names R/intervalaverage_functions.R:236-240,
type checks :272-284, inverted bounds :301-305, NA bounds :264-270."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from intervalaverage_spark import (
    interval_average,
    interval_coalesce,
    interval_intersect,
    isolate_overlaps,
)
from intervalaverage_spark.operators.coalesce import interval_concurrency, interval_gaps
from intervalaverage_spark.operators.difference import interval_difference
from intervalaverage_spark.validation import (
    IntervalDataError,
    IntervalSchemaError,
    check_intervals,
    check_schema,
)


@pytest.fixture(scope="module")
def xy(spark):
    x = spark.createDataFrame(
        [(1, 0, 9, 1.0), (1, 10, 19, 2.0)], "g long, start long, end long, v double"
    )
    y = spark.createDataFrame([(1, 0, 19)], "g long, start long, end long")
    return x, y


def test_overlapping_x_rejected(spark, xy):
    _, y = xy
    x = spark.createDataFrame(
        [(1, 0, 10, 1.0), (1, 10, 19, 2.0)],  # touching = overlap (closed)
        "g long, start long, end long, v double",
    )
    with pytest.raises(IntervalDataError, match="overlap"):
        interval_average(x, y, ("start", "end"), ["v"], ["g"])


def test_overlap_check_skippable(spark, xy):
    _, y = xy
    x = spark.createDataFrame(
        [(1, 0, 10, 1.0), (1, 10, 19, 2.0)],
        "g long, start long, end long, v double",
    )
    out = interval_average(x, y, ("start", "end"), ["v"], ["g"],
                           skip_overlap_check=True)
    assert out.count() == 1


def test_duplicate_x_rejected(spark, xy):
    _, y = xy
    x = spark.createDataFrame(
        [(1, 0, 9, 1.0), (1, 0, 9, 1.0)], "g long, start long, end long, v double"
    )
    with pytest.raises(IntervalDataError, match="duplicate"):
        interval_average(x, y, ("start", "end"), ["v"], ["g"])


def test_inverted_bounds_rejected(spark, xy):
    _, y = xy
    x = spark.createDataFrame([(1, 9, 0, 1.0)], "g long, start long, end long, v double")
    with pytest.raises(IntervalDataError, match="start > end"):
        interval_average(x, y, ("start", "end"), ["v"], ["g"])


def test_null_bounds_rejected(spark, xy):
    _, y = xy
    x = spark.createDataFrame([(1, None, 9, 1.0)], "g long, start long, end long, v double")
    with pytest.raises(IntervalDataError, match="null"):
        interval_average(x, y, ("start", "end"), ["v"], ["g"])


def test_reserved_names_rejected(spark, xy):
    x, y = xy
    bad = x.withColumn("xduration", F.lit(1))
    with pytest.raises(IntervalSchemaError, match="reserved"):
        interval_average(bad, y, ("start", "end"), ["v"], ["g"])


def test_mixed_interval_classes_rejected(spark, xy):
    x, y = xy
    epoch = F.lit("1970-01-01").cast("date")
    xd = x.select("g", F.date_add(epoch, F.col("start").cast("int")).alias("start"),
                  F.date_add(epoch, F.col("end").cast("int")).alias("end"), "v")
    # x DateType vs y LongType → class mismatch
    with pytest.raises(ValueError, match="class"):
        interval_average(xd, y, ("start", "end"), ["v"], ["g"])
    # a named IntervalSchemaError, from every two-table operator
    for op in (interval_intersect, interval_difference):
        with pytest.raises(IntervalSchemaError, match="class"):
            op(xd, y, ("start", "end"), ["g"])


def test_float_interval_cols_rejected(spark, xy):
    x, y = xy
    xf = x.select("g", F.col("start").cast("double").alias("start"), "end", "v")
    with pytest.raises(IntervalSchemaError, match="integral"):
        interval_average(xf, y, ("start", "end"), ["v"], ["g"])


def test_missing_column_rejected(spark, xy):
    x, y = xy
    with pytest.raises(IntervalSchemaError, match="not in DataFrame"):
        interval_average(x, y, ("start", "end"), ["nope"], ["g"])


def test_role_overlap_rejected(spark, xy):
    x, y = xy
    with pytest.raises(IntervalSchemaError, match="disjoint"):
        check_schema(x, ("start", "end"), ["start"], ["v"])
    # output columns that would collide are named schema errors too
    with pytest.raises(IntervalSchemaError, match="collision"):
        interval_intersect(x, y.withColumn("v", F.lit(0.0)), ("start", "end"), ["g"])
    with pytest.raises(IntervalSchemaError, match="collide"):
        isolate_overlaps(x, ("start", "end"), ["g"], interval_vars_out=("v", "e"))
    # output bounds and fixed output columns never duplicate a carried
    # column: a carried x or y column, or a group column
    xs = x.withColumnsRenamed({"start": "s", "end": "e"}).withColumn("start", F.lit(1))
    for sort in (True, False):
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_intersect(xs, y, {"s": "start", "e": "end"}, ["g"], sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_intersect(x, y.withColumn("fe", F.lit(1)), ("start", "end"), ["g"],
                               interval_vars_out=("fs", "fe"), sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_difference(xs, y, {"s": "start", "e": "end"}, ["g"], sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_coalesce(xs.drop("start").withColumnRenamed("g", "start"), ("s", "e"),
                              ["start"], sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_coalesce(x, ("start", "end"), ["g"], interval_vars_out=("g", "e"), sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_gaps(x, ("start", "end"), ["g"], interval_vars_out=("gap_len", "ge"),
                          sort=sort)
        with pytest.raises(IntervalSchemaError, match="collide"):
            interval_concurrency(x.withColumnRenamed("g", "n_open"), ("start", "end"),
                                 ["n_open"], sort=sort)


def test_check_intervals_reports_first_problem(spark):
    df = spark.createDataFrame([(1, 5, 3)], "g long, s long, e long")
    with pytest.raises(IntervalDataError, match="start > end"):
        check_intervals(df, "s", "e", ["g"])


def test_verbose_diagnostics_api_parity(spark, xy, capsys):
    """Reference exposes `verbose` on every entry point
    (R/intervalaverage_functions.R:156, R/intervalintersect.r:49,
    R/isoverlapping.R:31); ours accepts it and prints stage breadcrumbs."""
    from intervalaverage_spark import interval_average, interval_intersect
    from intervalaverage_spark.operators.overlap import is_overlapping

    x, y = xy
    interval_average(x, y, ("start", "end"), ["v"], ["g"], verbose=True).collect()
    out = capsys.readouterr().out
    assert "passed errorcheck" in out and "interval_average" in out

    interval_intersect(
        x.drop("v"), y.withColumnsRenamed({"start": "ws", "end": "we"}),
        {"start": "ws", "end": "we"}, group_vars=["g"], verbose=True,
    ).collect()
    assert "interval_intersect" in capsys.readouterr().out

    is_overlapping(x, ("start", "end"), ["g"], verbose=True)
    assert "lag-window" in capsys.readouterr().out


def test_named_interval_vars_rejected(spark, xy):
    """Named x→y interval mappings are intersect-only; interval_average
    must REJECT a Mapping instead of silently iterating its keys
    (reference errors at R/intervalaverage_functions.R:233-234)."""
    x, y = xy
    with pytest.raises(IntervalSchemaError, match="intersect-only"):
        interval_average(x, y, {"start": "ws", "end": "we"}, ["v"], ["g"])


def test_decimal_weight_width_adapts_to_value_precision(spark):
    """_wv_sql widens the weight cast to min(37−p, 19) digits: a
    low-precision value column supports intervals far beyond the old
    1e10-unit bound (ADVICE r2: nanosecond-domain lengths overflowed
    decimal(10,0)). 12-digit weight × decimal(6,2) value must be exact."""
    x = spark.createDataFrame(
        [(1, 0, 10**12 - 1, "1.25")], "g long, start long, end long, raw string"
    ).select("g", "start", "end", F.col("raw").cast("decimal(6,2)").alias("v"))
    y = spark.createDataFrame([(1, 0, 10**12 - 1)], "g long, start long, end long")
    row = interval_average(
        x, y, ("start", "end"), ["v"], ["g"], validate=False, keep_sums=True
    ).first()
    assert row["nobs_v"] == 10**12
    assert str(row["sum_wv_v"]) == "1250000000000.00"  # exact decimal Σw·v
    assert row["v"] == 1.25
