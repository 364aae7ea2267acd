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
from intervalaverage_spark.functions.bloom import (
    bloom_build,
    bloom_probe,
    bloom_probe_broadcast,
    bloom_words_to_array,
)
from intervalaverage_spark.functions.cms import (
    cms_build,
    cms_estimate,
    cms_estimate_broadcast,
    cms_to_array,
)
from intervalaverage_spark.functions.hll import hll_estimate, hll_merge, hll_registers
from intervalaverage_spark.functions.quantiles import hist_merge, hist_quantiles, hist_registers
from intervalaverage_spark.functions.retrieval import bm25_postings, bm25_topk
from intervalaverage_spark.functions.sampling import deterministic_sample, md5_uniform
from intervalaverage_spark.functions.textstats import repetition_stats, text_stats
from intervalaverage_spark.functions.ann import (
    assign_cells_broadcast,
    brute_topk,
    ivf_cells,
    knn_join,
    with_srp_buckets,
)
from intervalaverage_spark.functions.dedup import (
    dedup_clusters,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    prefix_jaccard_pairs,
    simhash_pairs,
)
from intervalaverage_spark.operators.analytics import (
    autocorr,
    cadence_stats,
    rate,
    robust_anomalies,
    rolling,
    rolling_decomposable,
    rolling_minmax,
    seasonal_anomalies,
    seasonal_profile,
    theil_sen,
    trend,
    trend_moments,
    trend_points,
    trend_t0,
    windowed_percentiles,
)
from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.changepoint import (
    cusum,
    cusum_calibration_from_points,
    cusum_points,
)
from intervalaverage_spark.operators.coalesce import interval_concurrency, interval_gaps
from intervalaverage_spark.operators.difference import interval_difference
from intervalaverage_spark.operators.downsample import M4_COLS, lttb, m4_downsample
from intervalaverage_spark.operators.fill import interpolate_linear, locf, nocb
from intervalaverage_spark.operators.overlap import overlap_flags
from intervalaverage_spark.operators.sessions import session_bounds, sessionize
from intervalaverage_spark.streaming.seasonal_stream import streaming_seasonal_anomalies
from intervalaverage_spark.streaming.sketch_stream import streaming_hll_registers
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


#: the series analytics, changepoint and downsampling operators over the
#: same frame; they take no ``bw``
SERIES_OPS = {
    "rolling-direct": lambda d, bw, k, t, v: rolling(d, t, v, 15, [k], aggs=("mean", "max")),
    "rolling_minmax": lambda d, bw, k, t, v: rolling_minmax(d, t, v, 15, [k]),
    "rolling_minmax-unique": lambda d, bw, k, t, v: rolling_minmax(
        d, t, v, 15, [k], assume_unique_ts=True, validate=True),
    "windowed_percentiles": lambda d, bw, k, t, v: windowed_percentiles(
        d, t, v, 20, [0.5, 0.9], [k]),
    "trend": lambda d, bw, k, t, v: trend(d, t, v, [k]),
    "autocorr": lambda d, bw, k, t, v: autocorr(d, t, v, [k], max_lag=2),
    "theil_sen": lambda d, bw, k, t, v: theil_sen(d, t, v, [k]),
    "cadence_stats": lambda d, bw, k, t, v: cadence_stats(d, t, [k]),
    "seasonal_profile": lambda d, bw, k, t, v: seasonal_profile(d, t, v, [k], 20, 4),
    "seasonal_anomalies": lambda d, bw, k, t, v: seasonal_anomalies(d, t, v, [k], 20, 4, k=0.5),
    "streaming_seasonal_anomalies": lambda d, bw, k, t, v: streaming_seasonal_anomalies(
        d, seasonal_profile(d, t, v, [k], 20, 4), t, v, [k], 20, 4, k=0.5),
    "robust_anomalies": lambda d, bw, k, t, v: robust_anomalies(d, t, v, [k], k=0.5),
    "cusum": lambda d, bw, k, t, v: cusum(d, t, v, [k], alarms_only=False),
    "cusum_points": lambda d, bw, k, t, v: cusum_points(d, t, v, [k]),
    "m4": lambda d, bw, k, t, v: m4_downsample(d, t, v, 20, [k]),
    "lttb": lambda d, bw, k, t, v: lttb(d, t, v, 3, [k]),
}

#: fixed output names that only look derived from the input names
FIXED = {*M4_COLS, "mean_v", "sd_v"}


def _renamed(col, names):
    """``col`` of a plain-name output under the key/order/value ``names``."""
    if col in FIXED:
        return col
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


#: (op, bw): the point-series operators flat and bucketed, the series
#: operators once
POINT_CASES = [*((op, bw) for op in POINT_OPS for bw in (None, 10)),
               *((op, None) for op in SERIES_OPS)]


@pytest.mark.parametrize("op,bw", POINT_CASES, ids=[f"{op}-{bw}" for op, bw in POINT_CASES])
@pytest.mark.parametrize("names", [{"k": "a.b", "t": "g`x", "v": "v.`w"},
                                   {"k": "g`x", "t": "a.b", "v": "x y"}],
                         ids=["dot-key", "dot-order"])
def test_point_ops_any_name(points, op, bw, names):
    """A key, order or value column of any name gives the columns and rows
    of the plain-name run, flat and bucketed."""
    build = {**POINT_OPS, **SERIES_OPS}[op]
    want = _result(build(points, bw, "k", "t", "v"))
    got = _result(build(points.withColumnsRenamed(names), bw,
                        names["k"], names["t"], names["v"]))
    assert got == ([_renamed(c, names) for c in want[0]], want[1])


#: the public fold pieces the streaming twins consume
PIECES = {
    "cusum_calibration": lambda d, bw, k, t, v: cusum_calibration_from_points(
        cusum_points(d, t, v, [k]), [k]),
    "trend_points": lambda d, bw, k, t, v: trend_points(d, t, v, [k]),
    "trend_t0": lambda d, bw, k, t, v: trend_t0(trend_points(d, t, v, [k]), [k]),
    "trend_moments": lambda d, bw, k, t, v: trend_moments(
        trend_points(d, t, v, [k]), [k], trend_t0(trend_points(d, t, v, [k]), [k])),
}

#: a key or order column named like an output (the operator raises a
#: named error) or like an internal column (it gives the plain-name run)
NAME_CLASHES = [("autocorr", {"k": "lag"}, True), ("seasonal_profile", {"k": "phase"}, True),
                ("trend", {"k": "t0"}, True),
                *(("cusum_calibration", {"k": n}, True) for n in ("mu", "kappa", "h")),
                ("trend_t0", {"k": "t0"}, True), ("trend_moments", {"k": "n_points"}, True),
                *((op, {"k": "__t"}, False) for op in ("trend", "theil_sen", "cadence_stats")),
                *((op, {"t": "x"}, False) for op in ("autocorr", "seasonal_profile")),
                *((op, {"k": n}, True) for op in ("trend_points", "trend_t0", "trend_moments")
                  for n in ("__t", "__x")),
                ("trend_moments", {"k": "__u"}, True),
                *((op, n, True) for op in ("cusum_points", "cusum_calibration")
                  for n in ({"k": "x"}, {"t": "x"}))]


@pytest.mark.parametrize("op,names,raises", NAME_CLASHES,
                         ids=[f"{op}-{','.join(f'{r}={c}' for r, c in n.items())}"
                              for op, n, _ in NAME_CLASHES])
def test_series_ops_output_and_internal_names(points, op, names, raises):
    """Output names among the key columns raise IntervalSchemaError; the
    operators' internal names are free for the user."""
    build = {**SERIES_OPS, **PIECES}[op]
    names = {"k": "k", "t": "t", "v": "v", **names}
    renamed = points.withColumnsRenamed(names)
    if raises:
        with pytest.raises(IntervalSchemaError):
            build(renamed, None, names["k"], names["t"], names["v"])
        return
    want = _result(build(points, None, "k", "t", "v"))
    got = _result(build(renamed, None, names["k"], names["t"], names["v"]))
    assert got == ([_renamed(c, names) for c in want[0]], want[1])


#: the dedup and ANN calls over documents ``d`` (id, text) or vectors
#: ``v`` (id, embedding), with the id column ``i`` and text or vector ``x``
DOC_OPS = {
    "exact_dedup": lambda d, v, i, x: exact_dedup(d, i, x),
    "minhash_lsh_pairs": lambda d, v, i, x: minhash_lsh_pairs(d, i, x, threshold=0.3),
    "prefix_jaccard_pairs": lambda d, v, i, x: prefix_jaccard_pairs(d, i, x, threshold=0.3),
    "simhash_pairs": lambda d, v, i, x: simhash_pairs(d, i, x),
    "dedup_clusters": lambda d, v, i, x: dedup_clusters(
        d, minhash_lsh_pairs(d, i, x, threshold=0.3), i),
    "embedding_neardup_pairs": lambda d, v, i, x: embedding_neardup_pairs(v, i, x, threshold=0.5),
    **{f"knn_join-{m}": (lambda d, v, i, x, m=m: knn_join(
        v, v, i, x, i, x, k=2, n_cells=2, nprobe=1, exclude_self=True, method=m))
       for m in ("literal", "broadcast")},
}

#: (op, names, raises): id and text or vector columns named as column
#: paths; ids named like the columns the calls add (the semi-join's
#: ``cid``, knn_join's cell and norm columns); an id named like an output
DOC_CASES = [*((op, n, False) for op in DOC_OPS
               for n in ({"id": "a.b", "x": "g`x"}, {"id": "g`x", "x": "a.b"})),
             *((op, {"id": "cid"}, False) for op in ("minhash_lsh_pairs", "prefix_jaccard_pairs")),
             *((op, {"id": n}, False) for op in ("knn_join-literal", "knn_join-broadcast")
               for n in ("ivf_cell", "__knn_qn", "__knn_nb")),
             ("dedup_clusters", {"id": "canonical_id"}, True)]


@pytest.fixture(scope="module")
def corpus(spark):
    """Documents (an exact and a near duplicate, a stranger) and vectors."""
    fox = "the quick brown fox jumps over the lazy"
    docs = spark.createDataFrame(
        [(1, f"{fox} dog"), (2, f"{fox} cat"), (3, f"{fox} dog"), (4, "lorem ipsum dolor sit")],
        "id bigint, x string")
    vecs = spark.createDataFrame([(i, [float(i % 3), 1.0, i / 4]) for i in range(6)],
                                 "id bigint, x array<double>")
    return docs, vecs


@pytest.mark.parametrize("op,names,raises", DOC_CASES,
                         ids=[f"{op}-{','.join(n.values())}" for op, n, _ in DOC_CASES])
def test_doc_ops_any_name(corpus, plain_results, op, names, raises):
    """An id, text or vector column of any name gives the columns and
    rows of the plain-name run; an id named like an output column raises
    IntervalSchemaError."""
    docs, vecs = corpus
    build = DOC_OPS[op]
    args = (docs.withColumnsRenamed(names), vecs.withColumnsRenamed(names),
            names.get("id", "id"), names.get("x", "x"))
    if raises:
        with pytest.raises(IntervalSchemaError):
            build(*args)
        return
    if op not in plain_results:
        plain_results[op] = _result(build(docs, vecs, "id", "x"))
    want = plain_results[op]
    assert _result(build(*args)) == ([names.get(c, c) for c in want[0]], want[1])


#: calls that return input columns beside a column they add, with the added
#: column's name, over documents ``d`` (id, text ``x``) or vectors ``v``
#: (id, embedding ``x``) whose id column is ``i``
ADDS = {
    "ivf_cells": ("ivf_cell", lambda d, v, i: ivf_cells(v, i, "x", n_cells=2)),
    "assign_cells_broadcast": ("ivf_cell", lambda d, v, i: assign_cells_broadcast(
        v, "x", [(0, [1.0, 1.0, 0.5])])),
    "with_srp_buckets": ("srp_b0", lambda d, v, i: with_srp_buckets(v, "x", 3, bands=1)),
    "brute_topk": ("cosine", lambda d, v, i: brute_topk(v, [1.0, 1.0, 0.5], i, "x", k=2)),
    "text_stats": ("n_tokens", lambda d, v, i: text_stats(d, "x")),
    "bloom_probe": ("maybe_present", lambda d, v, i: bloom_probe(
        d, "x", bloom_build(d, "x", 64, 2), 64, 2)),
    "bloom_probe_broadcast": ("maybe_present", lambda d, v, i: bloom_probe_broadcast(
        d, "x", [0, 0], 64, 2)),
    "cms_estimate": ("cms_est", lambda d, v, i: cms_estimate(
        d, "x", cms_build(d, "x", 16, 2), 16, 2)),
    "cms_estimate_broadcast": ("cms_est", lambda d, v, i: cms_estimate_broadcast(
        d, "x", [[0] * 16] * 2, 16, 2)),
}


@pytest.mark.parametrize("op", list(ADDS))
def test_added_column_named_like_an_input_raises(corpus, op):
    """An input column named like the column a call adds raises
    IntervalSchemaError instead of being overwritten."""
    name, build = ADDS[op]
    docs, vecs = (f.withColumnRenamed("id", name) for f in corpus)
    with pytest.raises(IntervalSchemaError):
        build(docs, vecs, name)


def _sub(d, n):
    """The rows of ``d`` with an id below 3: the members a sketch is built of."""
    return d.where(f"{_q(n['id'])} < 3")


#: the text, retrieval, sampling and sketch calls over documents ``d`` (id,
#: text ``x``, group ``g``, value ``v``) and queries ``q`` (id ``qid``,
#: text ``qt``), with the roles each reads; ``n`` maps a role to its name
TEXT_OPS = {
    "text_stats": ("x", lambda d, q, n: text_stats(d, n["x"])),
    "repetition_stats": ("id x", lambda d, q, n: repetition_stats(d, n["id"], n["x"])),
    "bm25_postings": ("id x", lambda d, q, n: bm25_postings(d, n["id"], n["x"])),
    "bm25_topk": ("id x", lambda d, q, n: bm25_topk(
        d, q, n["id"], n["x"], n["qid"], n["qt"], k=2)),
    "bm25_topk-postings": ("id x", lambda d, q, n: bm25_topk(
        d, q, n["id"], n["x"], n["qid"], n["qt"], k=2,
        postings=bm25_postings(d, n["id"], n["x"]))),
    "md5_uniform": ("id x", lambda d, q, n: d.select(
        md5_uniform([n["id"], n["x"]], "s").alias("u"))),
    "deterministic_sample": ("x", lambda d, q, n: deterministic_sample(d, 0.5, [n["x"]], "s")),
    "bloom_build": ("x", lambda d, q, n: bloom_build(d, n["x"], 64, 2)),
    "bloom_probe": ("x", lambda d, q, n: bloom_probe(
        d, n["x"], bloom_build(_sub(d, n), n["x"], 64, 2), 64, 2)),
    "bloom_probe_broadcast": ("x", lambda d, q, n: bloom_probe_broadcast(
        d, n["x"], bloom_words_to_array(bloom_build(_sub(d, n), n["x"], 64, 2), 64), 64, 2)),
    "cms_build": ("id x", lambda d, q, n: cms_build(d, n["x"], 16, 2, weight_col=n["id"])),
    "cms_estimate": ("x", lambda d, q, n: cms_estimate(
        d, n["x"], cms_build(_sub(d, n), n["x"], 16, 2), 16, 2)),
    "cms_estimate_broadcast": ("x", lambda d, q, n: cms_estimate_broadcast(
        d, n["x"], cms_to_array(cms_build(_sub(d, n), n["x"], 16, 2), 16, 2), 16, 2)),
    "hll_registers": ("x g", lambda d, q, n: hll_registers(d, n["x"], 4, group_cols=[n["g"]])),
    "hll_merge": ("x g", lambda d, q, n: hll_merge(
        hll_registers(_sub(d, n), n["x"], 4, group_cols=[n["g"]]),
        hll_registers(d, n["x"], 4, group_cols=[n["g"]]), [n["g"]])),
    "hll_estimate": ("x g", lambda d, q, n: hll_estimate(
        hll_registers(d, n["x"], 4, group_cols=[n["g"]]), 4, [n["g"]])),
    "streaming_hll_registers": ("x", lambda d, q, n: streaming_hll_registers(d, n["x"], 4)),
    "hist_registers": ("g v", lambda d, q, n: hist_registers(d, n["v"], 0.0, 8.0, 4, [n["g"]])),
    "hist_merge": ("g v", lambda d, q, n: hist_merge(
        hist_registers(_sub(d, n), n["v"], 0.0, 8.0, 4, [n["g"]]),
        hist_registers(d, n["v"], 0.0, 8.0, 4, [n["g"]]), [n["g"]])),
    "hist_quantiles": ("g v", lambda d, q, n: hist_quantiles(
        hist_registers(d, n["v"], 0.0, 8.0, 4, [n["g"]]), [0.5, 1.0], 0.0, 8.0, 4, [n["g"]])),
}

#: ``a.b`` and ``g`x`` in each role a call reads
TEXT_NAMES = [{"id": "a.b", "x": "g`x", "qid": "a.b", "qt": "g`x"},
              {"id": "g`x", "x": "a.b", "qid": "g`x", "qt": "a.b"},
              {"g": "a.b", "v": "g`x"}, {"g": "g`x", "v": "a.b"}]

#: (op, names, raises): column paths in the roles a call reads; names the
#: calls use inside (the plain-name rows) or add to their output (a named
#: error)
TEXT_CASES = [*((op, n, False) for op, (reads, _) in TEXT_OPS.items()
                for n in TEXT_NAMES if set(n) & set(reads.split())),
              *(("bm25_topk", {"id": n}, False) for n in ("term", "tf", "dl", "df")),
              ("cms_estimate", {"x": "row"}, False),
              *(("bloom_probe", {"x": n}, False) for n in ("word_idx", "mask")),
              ("repetition_stats", {"g": "n_lines"}, True),
              *(("bm25_topk", {"id": n}, True)
                for n in ("query_id", "score", "n_terms_hit", "rnk")),
              *(("hll_registers", {"g": n}, True) for n in ("reg", "max_rank")),
              *(("hist_registers", {"g": n}, True) for n in ("bin", "cnt")),
              ("hll_estimate", {"g": "hll_est"}, True),
              *(("hist_quantiles", {"g": n}, True) for n in ("q", "hist_est", "n_points"))]


@pytest.fixture(scope="module")
def texts(spark):
    """Documents with a repeated line and an empty text, and two queries."""
    fox = "the quick brown fox jumps over the lazy"
    docs = spark.createDataFrame(
        [(1, f"{fox} dog\n{fox} dog", "a", 1.5), (2, f"{fox} cat", "b", 2.5),
         (3, "the dog", "a", None), (4, "", "b", 7.0), (5, "lorem ipsum", None, 3.0)],
        "id bigint, x string, g string, v double")
    queries = spark.createDataFrame([(1, "quick dog"), (2, "lorem the")], "qid bigint, qt string")
    return docs, queries


@pytest.mark.parametrize("op,names,raises", TEXT_CASES,
                         ids=[f"{op}-{','.join(f'{r}={c}' for r, c in n.items())}"
                              for op, n, _ in TEXT_CASES])
def test_text_ops_any_name(texts, plain_results, op, names, raises):
    """An id, text, key, group or value column of any name gives the
    columns and rows of the plain-name run; one named like an output
    column raises IntervalSchemaError."""
    docs, queries = texts
    _, build = TEXT_OPS[op]
    n = {r: names.get(r, r) for r in ("id", "x", "g", "v", "qid", "qt")}
    args = (docs.withColumnsRenamed({r: n[r] for r in ("id", "x", "g", "v")}),
            queries.withColumnsRenamed({r: n[r] for r in ("qid", "qt")}), n)
    if raises:
        with pytest.raises(IntervalSchemaError):
            build(*args)
        return
    if op not in plain_results:
        plain_results[op] = _result(build(docs, queries, {r: r for r in n}))
    want = plain_results[op]
    assert _result(build(*args)) == ([n.get(c, c) for c in want[0]], want[1])


@pytest.mark.parametrize("op", ["bloom_probe_broadcast", "cms_estimate_broadcast"])
def test_filtered_broadcast_probe_runs_its_udf_once(texts, op):
    """A filter on the column a broadcast probe adds plans its pandas UDF
    once: pushed below the projection, it would evaluate it twice."""
    docs, queries = texts
    n = {r: r for r in ("id", "x", "g", "v", "qid", "qt")}
    out = TEXT_OPS[op][1](docs, queries, n)
    out = out.filter("NOT maybe_present" if op.startswith("bloom") else "cms_est > 1")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


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


def test_series_plans_build_in_few_py4j_calls(spark, monkeypatch):
    """robust_anomalies and cusum are SQL text over internal names:
    building their plans (one group, timestamp ts) takes at most half the
    driver → JVM calls of the Column-built plans (787 and 1,216)."""
    x = spark.createDataFrame([("a", datetime.datetime(2024, 1, 1), 1.0)],
                              "g string, ts timestamp, v double")
    x.schema  # noqa: B018 — the schema is fetched once, outside the count
    n_robust = _py4j_calls(spark, monkeypatch, lambda: robust_anomalies(x, "ts", "v", ["g"]))
    n_cusum = _py4j_calls(spark, monkeypatch, lambda: cusum(x, "ts", "v", ["g"]))
    assert n_robust <= 393 and n_cusum <= 608, (n_robust, n_cusum)
