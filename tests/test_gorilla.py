"""Gorilla codec: round-trip fuzz + Spark segment encode/decode."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from intervalaverage_spark.functions.gorilla import (
    decode_segments,
    encode_segments,
    gorilla_decode,
    gorilla_encode,
)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_roundtrip_fuzz(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    ts = np.cumsum(rng.integers(0, 10000, n)) + 1704067200  # dups allowed
    vals = rng.normal(0, 1e6, n)
    vals[rng.random(n) < 0.15] = np.nan
    vals[rng.random(n) < 0.15] = 0.0
    blob = gorilla_encode(ts, vals)
    t2, v2 = gorilla_decode(blob)
    assert np.array_equal(ts, t2)
    assert np.array_equal(vals.view(np.uint64), v2.view(np.uint64))


def test_unsorted_rejected():
    with pytest.raises(ValueError):
        gorilla_encode(np.array([5, 3]), np.array([1.0, 2.0]))


def test_spark_segments_roundtrip(spark):
    rng = np.random.default_rng(3)
    rows = []
    for u in ("a", "b"):
        t = np.cumsum(rng.integers(60, 7200, 400)).astype(int)
        v = rng.normal(50, 10, 400)
        v[rng.random(400) < 0.1] = np.nan
        rows += [(u, int(tt), None if np.isnan(vv) else float(vv)) for tt, vv in zip(t, v)]
    pts = spark.createDataFrame(rows, "url string, t long, v double")
    segs = encode_segments(pts, ["url"], "t", "v", segment_width=86400)
    sp = segs.toPandas()
    assert (sp["codec"] == "gorilla-v1").all()
    assert sp["n_points"].sum() == len(rows)
    # decode returns the exact point set (NaN→null)
    back = decode_segments(segs, ["url"]).withColumn(
        "v", F.when(~F.isnan("v"), F.col("v"))
    )
    orig = pts.select("url", "t", "v")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    # compression: blobs smaller than raw 16B/pt
    assert sp["blob"].map(len).sum() < 16 * len(rows)


def _segment_reference(rows, width):
    """(key, seg_start) → blob by encoding each segment alone, sorted by t."""
    segs: dict = {}
    for key, t, v in rows:
        segs.setdefault((key, t // width * width), []).append((t, v))
    out = {}
    for k, pts in segs.items():
        pts.sort(key=lambda p: p[0])
        ts = np.array([t for t, _ in pts], dtype=np.int64)
        vals = np.array([np.nan if v is None else v for _, v in pts], dtype=np.float64)
        out[k] = (len(pts), gorilla_encode(ts, vals))
    return out


def _encoded(segs, key):
    return {(r[key], r["seg_start"]): (r["n_points"], bytes(r["blob"]))
            for r in segs.collect()}


def test_null_group_keys_survive(spark):
    """Null keys form their own segment and keep their points; long keys
    stay exact (2^62 and 2^62 + 1 are the same float64, so a key cast to
    float would merge their segments)."""
    big = 2**62
    rows = [(big, 1, 1.0), (big + 1, 2, 2.0), (None, 2, 2.0), (None, 3, 3.0)]
    pts = spark.createDataFrame(rows, "k long, t long, v double")
    segs = encode_segments(pts, ["k"], "t", "v", 86400)
    assert _encoded(segs, "k") == _segment_reference(rows, 86400)
    back = decode_segments(segs, ["k"])
    assert back.count() == 4
    assert back.filter("k IS NULL").count() == 2


def _random_rows(seed, keys, n):
    rng = np.random.default_rng(seed)
    rows = []
    for u in keys:
        t = np.cumsum(rng.integers(60, 7200, n)).astype(int)
        v = rng.normal(0, 5, n)
        v[rng.random(n) < 0.1] = np.nan
        rows += [(u, int(tt), None if np.isnan(vv) else float(vv)) for tt, vv in zip(t, v)]
    return rows


def test_blobs_identical_to_per_segment_encode(spark):
    rows = _random_rows(7, ("a", "b", "c", None), 300)
    pts = spark.createDataFrame(rows, "url string, t long, v double")
    got = _encoded(encode_segments(pts, ["url"], "t", "v", 86400), "url")
    assert got == _segment_reference(rows, 86400)


def test_batch_split_segments(spark):
    """Arrow batches of 5 rows: segments of up to 10 points span two or
    three batches, and shorter ones share a batch; every segment must come
    out whole and identical."""
    rows = _random_rows(11, ("a", "b", None), 200)
    pts = spark.createDataFrame(rows, "url string, t long, v double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = _encoded(encode_segments(pts, ["url"], "t", "v", 6 * 3600), "url")
    finally:
        spark.conf.set(key, prev)
    want = _segment_reference(rows, 6 * 3600)
    sizes = [n for n, _ in want.values()]
    assert max(sizes) > 5 and min(sizes) < 5
    assert got == want


def test_decode_keeps_exact_keys_without_a_shuffle(spark):
    """Decode is one Arrow map per batch: nullable long keys near 2^62 and
    a null key come back exact, null values come back null, and the
    decode plan has no Exchange."""
    big = 2**62
    rows = [(big, 1, 1.0), (big, 90000, None), (big + 1, 2, 2.5),
            (None, 2, 2.0), (None, 3, None)]
    pts = spark.createDataFrame(rows, "k long, t long, v double")
    enc = encode_segments(pts, ["k"], "t", "v", 86400)
    segs = spark.createDataFrame(enc.collect(), enc.schema)
    back = decode_segments(segs, ["k"])
    assert back.schema.simpleString() == "struct<k:bigint,t:bigint,v:double>"
    key = lambda r: (r[0] is None, r[0] or 0, r[1])  # noqa: E731
    assert sorted(map(tuple, back.collect()), key=key) == sorted(rows, key=key)
    assert "Exchange" not in back._jdf.queryExecution().executedPlan().toString()
