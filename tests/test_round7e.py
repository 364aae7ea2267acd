"""Round-7 fifth wave: BM25 ranked retrieval (E64).

The scorer is pinned by a pure-python replay of the full Okapi/Lucene
arithmetic (idf, length-normalised tf, 6-dp contribution rounding,
exact decimal summation) on a hand-sized corpus, plus the structural
properties a retrieval operator must hold: deterministic tie-breaks,
zero-match documents absent, unseen query terms inert, and the
persisted-postings path identical to the inline path.
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from intervalaverage_spark.functions.retrieval import (
    bm25_postings,
    bm25_topk,
)
from intervalaverage_spark.validation import IntervalSchemaError
from tests.conftest import rows

DOCS = [
    (1, "hash join order"),
    (2, "hash hash hash scan"),
    (3, "merge sort window"),
    (4, "join order batch stream"),
    (5, "the the the the the"),
]
QUERIES = [(10, "hash join"), (11, "window"), (12, "join join JOIN")]


def py_bm25(docs, queries, k1=1.2, b=0.75):
    """Independent replay: dict-based postings, same rounding contract."""
    toks = {d: t.lower().split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ts in toks.values():
        for term in set(ts):
            df[term] = df.get(term, 0) + 1
    out = {}
    for qid, qtext in queries:
        for term in set(qtext.lower().split()):
            if term not in df:
                continue
            idf = round(math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5)), 6)
            for d, ts in toks.items():
                tf = ts.count(term)
                if tf == 0:
                    continue
                contrib = round(
                    idf * (tf * (k1 + 1.0))
                    / (tf + k1 * (1.0 - b + b * (len(ts) / avgdl))),
                    6,
                )
                sc, nh = out.get((qid, d), (0, 0))
                # exact decimal sum replay: accumulate in micro-units
                out[(qid, d)] = (sc + round(contrib * 1e6), nh + 1)
    return {
        key: (round(sc / 1e6, 6), nh) for key, (sc, nh) in out.items()
    }


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.fixture(scope="module")
def probe_queries(spark):
    return spark.createDataFrame(QUERIES, ["query_id", "query_text"])


def test_bm25_matches_python_replay(spark, corpus, probe_queries):
    got = {
        (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["n_terms_hit"])
        for r in bm25_topk(corpus, probe_queries, k=10).collect()
    }
    assert got == py_bm25(DOCS, QUERIES)


def test_bm25_rank_deterministic_and_capped(spark, corpus, probe_queries):
    got = rows(bm25_topk(corpus, probe_queries, k=2), "query_id", "rnk")
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 2
        # total order: score desc, then doc_id asc
        keys = [(-r["score"], r["doc_id"]) for r in rs]
        assert keys == sorted(keys)


def test_bm25_zero_match_docs_absent(spark, corpus, probe_queries):
    got = bm25_topk(corpus, probe_queries, k=10)
    # doc 5 shares no term with any query; query 11 matches only doc 3
    assert got.filter("doc_id = 5").count() == 0
    assert rows(got.filter("query_id = 11").select("doc_id")) == [
        {"doc_id": 3}
    ]


def test_bm25_unseen_query_term_inert(spark, corpus):
    qs = spark.createDataFrame(
        [(1, "hash zzzunseen")], ["query_id", "query_text"]
    )
    got = rows(
        bm25_topk(corpus, qs, k=10).select("doc_id", "n_terms_hit"),
        "doc_id",
    )
    # the unseen term matches nothing; 'hash' still scores docs 1 and 2
    assert [r["doc_id"] for r in got] == [1, 2]
    assert all(r["n_terms_hit"] == 1 for r in got)


def test_bm25_duplicate_query_terms_count_once(spark, corpus):
    once = spark.createDataFrame([(1, "join")], ["query_id", "query_text"])
    thrice = spark.createDataFrame(
        [(1, "join join join")], ["query_id", "query_text"]
    )
    a = rows(bm25_topk(corpus, once, k=10).select("doc_id", "score"), "doc_id")
    b = rows(
        bm25_topk(corpus, thrice, k=10).select("doc_id", "score"), "doc_id"
    )
    assert a == b


def test_bm25_persisted_postings_path_identical(spark, corpus,
                                                probe_queries, tmp_path):
    idx_path = str(tmp_path / "bm25_index")
    bm25_postings(corpus).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    inline = rows(bm25_topk(corpus, probe_queries, k=10),
                  "query_id", "doc_id")
    indexed = rows(
        bm25_topk(corpus, probe_queries, k=10, postings=idx),
        "query_id", "doc_id",
    )
    assert inline == indexed


def test_bm25_postings_shape(spark, corpus):
    got = rows(bm25_postings(corpus).filter("doc_id = 2"), "term")
    # doc 2 = 'hash hash hash scan': tf 3 + 1, dl 4 on every row
    assert got == [
        {"doc_id": 2, "term": "hash", "tf": 3, "dl": 4},
        {"doc_id": 2, "term": "scan", "tf": 1, "dl": 4},
    ]


def test_bm25_error_contracts(spark, corpus, probe_queries):
    with pytest.raises(IntervalSchemaError, match="k1"):
        bm25_topk(corpus, probe_queries, k1=0.0)
    with pytest.raises(IntervalSchemaError, match="b must"):
        bm25_topk(corpus, probe_queries, b=1.5)
    with pytest.raises(IntervalSchemaError, match="k must"):
        bm25_topk(corpus, probe_queries, k=0)


# ------------------------------------------ E65: CUSUM changepoints

from intervalaverage_spark.operators.changepoint import cusum  # noqa: E402

SHIFT_ROWS = (
    [("a", t, 10.0 + (t % 3) * 0.5 + (10.0 if t >= 50 else 0.0))
     for t in range(80)]
    + [("b", t, 5.0 + (t % 2)) for t in range(80)]
)


def py_cusum(vals, km=0.5, hm=4.0):
    """Classic max-reset recurrence — the INDEPENDENT code path the
    prefix-sum/running-min rewrite must reproduce."""
    n = len(vals)
    m = sum(vals) / n
    ex2 = sum(v * v for v in vals) / n
    sig = max(0.0, ex2 - m * m) ** 0.5
    mu_r, k_r, h_r = round(m, 6), round(sig * km, 6), round(sig * hm, 6)
    sp = sn = 0.0
    res = []
    for v in vals:
        x = round(v, 6)
        sp = max(0.0, sp + (x - mu_r - k_r))
        sn = max(0.0, sn + (mu_r - k_r - x))
        res.append((round(sp, 6), round(sn, 6), sp > h_r or sn > h_r))
    return res


@pytest.fixture(scope="module")
def shifted(spark):
    return spark.createDataFrame(SHIFT_ROWS, ["k", "t", "v"])


def test_cusum_prefix_identity_equals_recurrence(spark, shifted):
    got = rows(cusum(shifted, "t", "v", ["k"], alarms_only=False),
               "k", "t")
    for key in ("a", "b"):
        vals = [r[2] for r in SHIFT_ROWS if r[0] == key]
        exp = py_cusum(vals)
        mine = [(r["s_pos"], r["s_neg"], r["alarm"])
                for r in got if r["k"] == key]
        assert len(mine) == len(exp)
        for (esp, esn, eal), (gsp, gsn, gal) in zip(exp, mine):
            assert abs(esp - gsp) < 1e-6 and abs(esn - gsn) < 1e-6
            assert eal == gal


def test_cusum_planted_shift_fires_stationary_does_not(spark, shifted):
    alarms = rows(cusum(shifted, "t", "v", ["k"]), "k", "t")
    assert any(r["k"] == "a" for r in alarms)
    assert not any(r["k"] == "b" for r in alarms)
    assert all(r["alarm"] for r in alarms)


def test_cusum_constant_series_never_alarms(spark):
    df = spark.createDataFrame(
        [("c", t, 7.5) for t in range(40)], ["k", "t", "v"]
    )
    out = rows(cusum(df, "t", "v", ["k"], alarms_only=False), "t")
    assert len(out) == 40
    assert all(r["s_pos"] == 0.0 and r["s_neg"] == 0.0 and not r["alarm"]
               for r in out)


def test_cusum_duplicate_ts_collapse_to_mean(spark):
    dup = spark.createDataFrame(
        [("d", 1, 4.0), ("d", 1, 6.0), ("d", 2, 5.0), ("d", 3, 5.0)],
        ["k", "t", "v"],
    )
    out = rows(cusum(dup, "t", "v", ["k"], alarms_only=False), "t")
    assert [r["t"] for r in out] == [1, 2, 3]
    assert out[0]["x"] == 5.0  # mean of (4, 6)


def test_cusum_null_values_excluded(spark):
    df = spark.createDataFrame(
        [("e", 1, 3.0), ("e", 2, None), ("e", 3, 3.0)], ["k", "t", "v"]
    )
    out = rows(cusum(df, "t", "v", ["k"], alarms_only=False), "t")
    assert [r["t"] for r in out] == [1, 3]


def test_cusum_error_contracts(spark, shifted):
    with pytest.raises(IntervalSchemaError, match="kappa_mult"):
        cusum(shifted, "t", "v", ["k"], kappa_mult=-0.1)
    with pytest.raises(IntervalSchemaError, match="h_mult"):
        cusum(shifted, "t", "v", ["k"], h_mult=0.0)
    with pytest.raises(IntervalSchemaError, match="group_vars"):
        cusum(shifted, "t", "v", [])
    with pytest.raises(IntervalSchemaError, match="missing column"):
        cusum(shifted, "t", "nope", ["k"])
    clash = shifted.withColumn("s_pos", F.lit(1))
    with pytest.raises(IntervalSchemaError, match="clash"):
        cusum(clash, "t", "v", ["k"])


# ------------------------------------------ E66: OLS trend

from intervalaverage_spark.operators.analytics import trend  # noqa: E402


def py_trend(pairs):
    """Independent closed-form replay, same centring and rounding."""
    t0 = min(t for t, _ in pairs)
    us = [t - t0 for t, _ in pairs]
    xs = [round(x, 6) for _, x in pairs]
    n = float(len(pairs))
    su, sx = sum(us), sum(xs)
    sux = sum(u * x for u, x in zip(us, xs))
    suu = sum(u * u for u in us)
    sxx = sum(x * x for x in xs)
    cov_n = n * sux - su * sx
    var_t = n * suu - su * su
    var_x = n * sxx - sx * sx
    if var_t <= 0:
        return (t0, None, None, None)
    slope = round((cov_n / var_t) * 86400.0, 6) + 0.0
    intercept = round((sx - (cov_n / var_t) * su) / n, 6) + 0.0
    r2 = (
        round((cov_n * cov_n) / (var_t * var_x), 6) if var_x > 0 else None
    )
    return (t0, slope, intercept, r2)


def _ts(sec):
    import datetime

    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec)


def test_trend_matches_python_replay(spark):
    pairs = [(i * 3600, 10.0 + 0.25 * i + (i % 3) * 0.5) for i in range(50)]
    df = spark.createDataFrame(
        [("a", _ts(t), v) for t, v in pairs], ["k", "ts", "v"]
    )
    got = trend(df, "ts", "v", ["k"]).collect()[0]
    base = int(_ts(0).timestamp())
    t0, slope, intercept, r2 = py_trend([(t + base, v) for t, v in pairs])
    assert got["n_points"] == 50 and got["t0"] == t0
    assert abs(got["slope"] - slope) < 1e-6
    assert abs(got["intercept"] - intercept) < 1e-6
    assert abs(got["r2"] - r2) < 1e-6
    assert got["r2"] > 0.95  # strong planted trend


def test_trend_degenerate_fits_null(spark):
    df = spark.createDataFrame(
        [("single", _ts(0), 5.0),
         ("same_t", _ts(10), 1.0), ("same_t", _ts(10), 3.0),
         ("const_x", _ts(0), 2.0), ("const_x", _ts(60), 2.0)],
        ["k", "ts", "v"],
    )
    got = {r["k"]: r for r in trend(df, "ts", "v", ["k"]).collect()}
    assert got["single"]["slope"] is None
    assert got["same_t"]["slope"] is None and got["same_t"]["r2"] is None
    # constant value over varying time: exact zero slope, r2 undefined
    assert got["const_x"]["slope"] == 0.0 and got["const_x"]["r2"] is None
    assert got["const_x"]["intercept"] == 2.0


def test_trend_null_values_excluded(spark):
    df = spark.createDataFrame(
        [("k", _ts(0), 1.0), ("k", _ts(60), None), ("k", _ts(120), 2.0)],
        ["k", "ts", "v"],
    )
    assert trend(df, "ts", "v", ["k"]).collect()[0]["n_points"] == 2


def test_trend_error_contracts(spark):
    df = spark.createDataFrame([("k", _ts(0), 1.0)], ["k", "ts", "v"])
    with pytest.raises(IntervalSchemaError, match="group_vars"):
        trend(df, "ts", "v", [])
    with pytest.raises(IntervalSchemaError, match="missing column"):
        trend(df, "ts", "nope", ["k"])


# ------------------------------------------ E67: streaming CUSUM

from intervalaverage_spark.operators.changepoint import (  # noqa: E402
    cusum_calibration_from_points,
    cusum_points,
)
from intervalaverage_spark.streaming.cusum_stream import (  # noqa: E402
    streaming_cusum,
)


def test_streaming_cusum_equals_batch_across_microbatches(spark, tmp_path):
    """Three time-ordered parquet files streamed one per micro-batch:
    the (s+, s-) carry across batches must reproduce the batch detector
    row-for-row (state is two ints per key; the carry-in prefix
    identity handles resets inside AND between batches)."""
    src_dir = str(tmp_path / "cusum_src")
    for part in range(3):
        rows_in = [
            ("a", _ts(t * 60),
             10.0 + (t % 3) * 0.5 + (10.0 if t >= 50 else 0.0))
            for t in range(part * 30, (part + 1) * 30)
        ] + [
            ("b", _ts(t * 60), 5.0 + (t % 2) * 3.0)
            for t in range(part * 30, (part + 1) * 30)
        ]
        (spark.createDataFrame(rows_in, ["k", "ts", "v"])
         .coalesce(1).write.mode("append").parquet(src_dir))
    full = spark.read.parquet(src_dir)
    want = rows(
        cusum(full, "ts", "v", ["k"]).drop("alarm"), "k", "ts")

    cal = cusum_calibration_from_points(
        cusum_points(full, "ts", "v", ["k"]), ["k"])
    # file create order == event-time order is required ACROSS batches;
    # latestFirst would violate the documented ordering boundary
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out = streaming_cusum(stream, cal, "k", "ts", "v")
    name = "t_stream_cusum"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    q.stop()
    assert q.lastProgress["batchId"] >= 1  # state actually carried
    got = rows(
        spark.table(name)
        .select(F.col("key").alias("k"), "ts", "x",
                "s_pos", "s_neg", "h"),
        "k", "ts",
    )
    assert got == want
    assert len(got) > 0


def test_streaming_cusum_contracts(spark):
    df = spark.createDataFrame([("a", _ts(0), 1.0)], ["k", "ts", "v"])
    bad_cal = spark.createDataFrame([("a", 1.0)], ["k", "mu"])
    with pytest.raises(IntervalSchemaError, match="calibration"):
        streaming_cusum(df, bad_cal, "k", "ts", "v")


# ------------------------------------------ E68: interval difference

import datetime  # noqa: E402

from intervalaverage_spark.operators.coalesce import (  # noqa: E402
    interval_coalesce,
)
from intervalaverage_spark.operators.difference import (  # noqa: E402
    interval_difference,
)
from intervalaverage_spark.operators.intersect import (  # noqa: E402
    interval_intersect,
)


def py_difference(x_rows, y_rows):
    """Set-of-points reference: per key, x-row points minus y points,
    regrouped into maximal runs — the independent replay."""
    from collections import defaultdict

    ycov = defaultdict(set)
    for k, s, e in y_rows:
        ycov[k].update(range(s, e + 1))
    out = []
    for k, s, e in x_rows:
        free = [p for p in range(s, e + 1) if p not in ycov[k]]
        run = []
        for p in free:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    out.append((k, run[0], run[-1]))
                run = [p]
        if run:
            out.append((k, run[0], run[-1]))
    return sorted(out)


def _pseudorandom_intervals(seed, n, kmax, span):
    """Deterministic LCG fixture — no RNG state, reproducible."""
    rows_out, v = [], seed
    for _ in range(n):
        v = (v * 1103515245 + 12345) % (2**31)
        k = f"k{v % kmax}"
        v = (v * 1103515245 + 12345) % (2**31)
        s = v % span
        v = (v * 1103515245 + 12345) % (2**31)
        rows_out.append((k, s, s + v % 12))
    return rows_out


def test_difference_matches_point_set_replay(spark):
    xs = _pseudorandom_intervals(7, 60, 5, 90)
    ys = _pseudorandom_intervals(13, 40, 5, 90)
    got = sorted(
        (r["k"], r["start"], r["end"])
        for r in interval_difference(
            spark.createDataFrame(xs, ["k", "s", "e"]),
            spark.createDataFrame(ys, ["k", "bs", "be"]),
            {"s": "bs", "e": "be"}, ["k"],
        ).collect()
    )
    assert got == py_difference(xs, ys)


def test_difference_tiles_with_intersection(spark):
    """Algebra closure: per x row, |difference pieces| + |x ∩ fused y|
    == |x| in points — the two outputs tile every x row exactly."""
    xs = _pseudorandom_intervals(3, 40, 4, 70)
    ys = _pseudorandom_intervals(11, 30, 4, 70)
    xdf = spark.createDataFrame(
        [(k, s, e, i) for i, (k, s, e) in enumerate(xs)],
        ["k", "s", "e", "xid"],
    )
    ydf = spark.createDataFrame(ys, ["k", "bs", "be"])
    diff = interval_difference(
        xdf, ydf, {"s": "bs", "e": "be"}, ["k"]
    ).groupBy("xid").agg(
        F.sum(F.col("end") - F.col("start") + 1).alias("free_len")
    )
    fused = interval_coalesce(ydf, ("bs", "be"), ["k"])
    inter = interval_intersect(
        xdf, fused.select("k", "start", "end"),
        {"s": "start", "e": "end"}, ["k"], validate=False, sort=False,
        interval_vars_out=("cs", "ce"),
    ).groupBy("xid").agg(
        F.sum(F.col("ce") - F.col("cs") + 1).alias("cov_len")
    )
    base = xdf.select(
        "xid", (F.col("e") - F.col("s") + 1).alias("len")
    )
    j = (base.join(diff, "xid", "left").join(inter, "xid", "left")
         .na.fill(0))
    bad = j.where(
        F.col("len") != F.col("free_len") + F.col("cov_len")
    ).count()
    assert bad == 0


def test_difference_edges(spark):
    x = spark.createDataFrame(
        [("cov", 2, 8), ("noy", 1, 4), (None, 3, 5)], ["k", "s", "e"]
    )
    y = spark.createDataFrame([("cov", 0, 99), (None, 0, 4)], ["k", "bs", "be"])
    got = rows(
        interval_difference(x, y, {"s": "bs", "e": "be"}, ["k"]), "k"
    )
    # fully covered emits nothing; key without y emits itself whole; a
    # NULL key is a key like any other, as in the range join
    assert got == [{"k": "noy", "start": 1, "end": 4}, {"k": None, "start": 5, "end": 5}]


def test_difference_dates_round_trip(spark):
    d = datetime.date
    x = spark.createDataFrame(
        [("a", d(2024, 1, 1), d(2024, 1, 10))], ["k", "s", "e"]
    )
    y = spark.createDataFrame(
        [("a", d(2024, 1, 4), d(2024, 1, 6))], ["k", "bs", "be"]
    )
    got = rows(
        interval_difference(x, y, {"s": "bs", "e": "be"}, ["k"]), "start"
    )
    assert got == [
        {"k": "a", "start": d(2024, 1, 1), "end": d(2024, 1, 3)},
        {"k": "a", "start": d(2024, 1, 7), "end": d(2024, 1, 10)},
    ]


def test_difference_mixed_classes_raise(spark):
    d = datetime.date
    x = spark.createDataFrame([("a", 1, 5)], ["k", "s", "e"])
    y = spark.createDataFrame(
        [("a", d(2024, 1, 1), d(2024, 1, 2))], ["k", "bs", "be"]
    )
    with pytest.raises(ValueError, match="class"):
        interval_difference(x, y, {"s": "bs", "e": "be"}, ["k"])
