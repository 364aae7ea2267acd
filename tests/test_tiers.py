"""Tier-cascade correctness: the join-free, state-merging rollup must equal
the reference-semantics interval_average against an explicit tier grid —
at every tier, including 30d-from-1d == 30d-from-raw (SURVEY §5 tier
consistency; weighted-mean associativity via carried sums)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from intervalaverage_spark import interval_average, tier_grid
from intervalaverage_spark.jobs.rollup import finalize_tier
from intervalaverage_spark.operators.tiers import (
    finalize,
    TIER_WIDTHS,
    rollup_cascade,
    rollup_from_raw,
    rollup_tiers,
)
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals, synth_webpages
from tests.conftest import _py4j_calls, rows
from tests.test_differential import assert_frames_match

VV = ["text_bytes", "crawl_gap"]
GV = ["url", "lang"]


@pytest.fixture(scope="module")
def web_x(spark):
    pages = synth_webpages(spark, n_pages=60, n_domains=8, seed=7)
    x = observation_intervals(pages, unit=1).cache()
    x.count()
    return x


def _grid_for(spark, x, width):
    lohi = x.agg(F.min("start").alias("lo"), F.max("end").alias("hi")).first()
    keys = x.select(*GV).distinct()
    return tier_grid(keys, lohi["lo"], lohi["hi"], width), lohi


def test_tier1_equals_interval_average(spark, web_x):
    width = 3600
    grid, lohi = _grid_for(spark, web_x, width)
    ref = interval_average(
        web_x, grid, ("start", "end"), VV, GV,
        required_percentage=50, validate=False, strategy="bucket", bucket_width=width,
    )
    st = rollup_from_raw(web_x, width, VV, GV)
    got = finalize(st, width, VV, GV, required_percentage=50,
                   dense_lo=lohi["lo"], dense_hi=lohi["hi"])
    assert_frames_match(got, ref, set(VV), [*GV, "start", "end"])


def test_cascade_equals_direct(spark, web_x):
    """1h→1d cascade == 1d-from-raw == interval_average on the 1d grid."""
    w1, w2 = 3600, 86400
    st1 = rollup_from_raw(web_x, w1, VV, GV).cache()
    st2_cascade = rollup_cascade(st1, w1, w2, VV, GV)
    st2_direct = rollup_from_raw(web_x, w2, VV, GV)
    a = finalize(st2_cascade, w2, VV, GV, required_percentage=0)
    b = finalize(st2_direct, w2, VV, GV, required_percentage=0)
    assert_frames_match(a, b, set(VV), [*GV, "start", "end"])

    grid, _ = _grid_for(spark, web_x, w2)
    ref = interval_average(
        web_x, grid, ("start", "end"), VV, GV,
        required_percentage=0, validate=False, strategy="bucket", bucket_width=w2,
    )
    # cascade state is sparse (only covered windows); compare on those
    ref_cov = ref.filter(F.col("xduration") > 0)
    assert_frames_match(a, ref_cov, set(VV), [*GV, "start", "end"])


def test_three_tier_cascade(spark, web_x):
    """30d via 1h→1d→30d equals 30d straight from raw."""
    st1 = rollup_from_raw(web_x, 3600, VV, GV)
    st2 = rollup_cascade(st1, 3600, 86400, VV, GV)
    st3 = rollup_cascade(st2, 86400, 30 * 86400, VV, GV)
    direct = rollup_from_raw(web_x, 30 * 86400, VV, GV)
    a = finalize(st3, 30 * 86400, VV, GV, required_percentage=80)
    b = finalize(direct, 30 * 86400, VV, GV, required_percentage=80)
    assert_frames_match(a, b, set(VV), [*GV, "start", "end"])


def _checksum(df):
    """(rows, modular sum of row hashes over sorted columns) — order-free."""
    h = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return r["n"], int(r["h"] or 0) % 9223372036854775783


def test_fused_tier_pass_equals_each_tier_alone(spark, web_x, tmp_path):
    """Each tier=<t> state the fused pass writes equals rollup_from_raw for
    that tier alone — double and exact-decimal value columns alike."""
    x = ckpt.with_bucket(
        web_x.withColumn("dec", (F.col("text_bytes") / 7).cast("decimal(18,6)")), "url", 4)
    vv, gv = [*VV, "dec"], [*GV, "p"]
    tiers = {t: TIER_WIDTHS[t] for t in ("1h", "1d", "30d")}
    root = str(tmp_path / "fused")
    ckpt.write_partitioned(rollup_tiers(x, tiers, vv, gv), root, ("tier", "p"))
    for tier, width in tiers.items():
        written = spark.read.parquet(f"{root}/tier={tier}").withColumn(
            "p", F.col("p").cast("long"))
        alone = rollup_from_raw(x, width, vv, gv)
        assert written.schema["sum_wv_dec"].dataType == alone.schema["sum_wv_dec"].dataType
        assert _checksum(written) == _checksum(alone), tier


#: plain → awkward column names: reserved words, a space, backticks
AWKWARD = {"url": "select", "lang": "la`ng", "text_bytes": "text bytes",
           "crawl_gap": "crawl`gap", "start": "from", "end": "to"}


def _awkward(col):
    """The awkward name of a plain output column (state and points)."""
    for prefix in ("", "sum_wv_", "nobs_", "prefix_", "suffix_", "best_", "maxgap_"):
        if col.startswith(prefix) and col[len(prefix):] in AWKWARD:
            return prefix + AWKWARD[col[len(prefix):]]
    return col


def test_awkward_column_names_are_quoted(spark, web_x):
    """Group, value and interval columns named after a reserved word, with
    a space or with a backtick give the plain-name state and points. The
    tier pass reads ``start``/``end``; the interval names go through
    ``rollup_from_raw`` and ``finalize``."""
    tiers = {t: TIER_WIDTHS[t] for t in ("1h", "1d", "30d")}

    def run(x, name):
        gv, vv, iv = [name(g) for g in GV], [name(v) for v in VV], (name("start"), name("end"))
        state = rollup_tiers(x.withColumnsRenamed(dict(zip(iv, ("start", "end")))), tiers, vv, gv)
        points = finalize(state.filter(F.col("tier") == "1d"), TIER_WIDTHS["1d"], vv,
                          [*gv, "tier"], required_percentage=50, interval_vars_out=iv)
        return state, points, rollup_from_raw(x, TIER_WIDTHS["1d"], vv, gv, iv)

    plain = run(web_x, lambda c: c)
    awkward = run(web_x.select(*(F.col(c).alias(AWKWARD.get(c, c)) for c in web_x.columns)),
                  AWKWARD.get)
    for p, a in zip(plain, awkward):
        assert a.columns == [_awkward(c) for c in p.columns]
        assert _checksum(a.toDF(*p.columns)) == _checksum(p)


def test_plans_build_in_few_py4j_calls(spark, web_x, tmp_path, monkeypatch):
    """The tier and finalize plans are SQL text: building them (not running
    them) takes a bounded number of driver → JVM calls, where a Column per
    operator took about 3.3k and 740."""
    x = ckpt.with_bucket(web_x, "url", 4)
    tiers = {t: TIER_WIDTHS[t] for t in ("1h", "1d", "30d")}
    root = str(tmp_path / "state")
    ckpt.write_partitioned(rollup_tiers(x, tiers, VV, [*GV, "p"]), root, ("tier", "p"))

    n_tiers = _py4j_calls(spark, monkeypatch, lambda: rollup_tiers(x, tiers, VV, [*GV, "p"]))
    n_finalize = _py4j_calls(spark, monkeypatch, lambda: finalize_tier(spark, root, "1d"))
    assert n_tiers <= 300 and n_finalize <= 60, (n_tiers, n_finalize)


def test_interval_average_plan_builds_in_few_py4j_calls(spark, web_x, monkeypatch):
    """interval_average folds its pairs with the tier fold, all SQL text:
    building its plan with two value columns takes 321 driver → JVM calls,
    where its own Column-built window and aggregate took 1,974."""
    grid, _ = _grid_for(spark, web_x, 3600)
    n = _py4j_calls(spark, monkeypatch, lambda: interval_average(
        web_x, grid, ("start", "end"), VV, GV, validate=False, strategy="sortmerge"))
    assert n <= 500, n


def test_nonaligned_boundaries_split_weights(spark):
    """An interval crossing a window boundary contributes exact split
    weights to each side (north star: 'exact handling of intervals that do
    not align with period boundaries')."""
    x = spark.createDataFrame(
        [("u", 50, 149, 10.0), ("u", 150, 260, 20.0)],
        "url string, start long, end long, v double",
    )
    st = rollup_from_raw(x, 100, ["v"], ["url"])
    got = {r["start"]: r for r in rows(finalize(st, 100, ["v"], ["url"], required_percentage=0))}
    # window [0,99]: 50 units of 10 → avg 10, nobs 50, prefix gap 50
    assert got[0]["v"] == pytest.approx(10.0)
    assert got[0]["nobs_v"] == 50 and got[0]["maxgap_v"] == 50
    # window [100,199]: 50 units @10 + 50 @20 → 15
    assert got[100]["v"] == pytest.approx(15.0)
    assert got[100]["nobs_v"] == 100 and got[100]["maxgap_v"] == 0
    # window [200,299]: 61 units @20, tail gap 39
    assert got[200]["v"] == pytest.approx(20.0)
    assert got[200]["nobs_v"] == 61 and got[200]["maxgap_v"] == 39


def test_gap_fill_dense(spark):
    x = spark.createDataFrame([("u", 0, 99, 1.0)], "url string, start long, end long, v double")
    st = rollup_from_raw(x, 100, ["v"], ["url"])
    out = rows(finalize(st, 100, ["v"], ["url"], dense_lo=0, dense_hi=399), "start")
    assert [r["start"] for r in out] == [0, 100, 200, 300]
    empty = out[2]
    assert empty["v"] is None and empty["xduration"] == 0
    assert empty["nobs_v"] == 0 and empty["maxgap_v"] == 100
    assert empty["xminstart"] is None


def test_webts_determinism_and_byte_identity(spark):
    """input_hint invariant: text byte-identical per url across generator
    runs and across the shuffle/repartition in the pipeline."""
    a = synth_webpages(spark, n_pages=30, n_domains=5, seed=11)
    b = synth_webpages(spark, n_pages=30, n_domains=5, seed=11)
    ha = a.select(F.sha2(F.col("text"), 256).alias("h"), "url", "warc_ts")
    hb = b.repartition(7).select(F.sha2(F.col("text"), 256).alias("h"), "url", "warc_ts")
    assert ha.exceptAll(hb).count() == 0 and hb.exceptAll(ha).count() == 0
    # html is the text wrapped — decode(html) must contain text byte-for-byte
    bad = a.filter(F.decode(F.col("html"), "utf-8") != F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>")))
    assert bad.count() == 0


def test_observation_intervals_non_overlapping(spark, web_x):
    from intervalaverage_spark import is_overlapping

    assert is_overlapping(web_x, ("start", "end"), ["url"]) is False
