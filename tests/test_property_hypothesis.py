"""Hypothesis property tests: randomized structures vs pure-python
references for the round-3 operators. Example budgets are small — every
example is a Spark round-trip — but hypothesis explores the degenerate
corners (empty keys, single points, full overlap, zero gaps) that seeded
fixtures miss; failures shrink to minimal cases."""

from __future__ import annotations

import bisect

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.coalesce import interval_coalesce
from intervalaverage_spark.operators.sessions import sessionize

SET = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)

intervals = st.lists(
    st.tuples(st.integers(0, 120), st.integers(0, 40)), min_size=1, max_size=40
)


@SET
@given(iv=intervals, gap=st.integers(-1, 5))
def test_coalesce_vs_python_union(spark, iv, gap):
    pdf = pd.DataFrame(
        {"k": 1, "s": [s for s, _ in iv], "e": [s + w for s, w in iv]})
    out = interval_coalesce(
        spark.createDataFrame(pdf), ("s", "e"), ["k"], adjacency_gap=gap,
        sort=False,
    ).toPandas().sort_values("start")
    # python reference: sort, sweep with running max end
    rows = sorted(zip(pdf["s"], pdf["e"]))
    islands, cur_s, cur_e, n, cov = [], None, None, 0, 0
    for s, e in rows:
        if cur_s is None or s > cur_e + 1 + gap:
            if cur_s is not None:
                islands.append((cur_s, cur_e, n, cov))
            cur_s, cur_e, n, cov = s, e, 1, e - s + 1
        else:
            n += 1
            cov += max(0, e - max(s, cur_e + 1) + 1)
            cur_e = max(cur_e, e)
    islands.append((cur_s, cur_e, n, cov))
    got = list(zip(out["start"], out["end"], out["n_intervals"], out["covered"]))
    assert got == islands


@SET
@given(
    ts=st.lists(st.integers(0, 500), min_size=1, max_size=50),
    gap=st.integers(0, 30),
)
def test_sessionize_vs_python(spark, ts, gap):
    pdf = pd.DataFrame({"k": 1, "t": ts})
    out = sessionize(spark.createDataFrame(pdf), "t", gap, ["k"]).toPandas()
    got = sorted(zip(out["t"], out["session_id"]))
    sid, prev, want = 0, None, []
    for t in sorted(ts):
        if prev is None or t - prev > gap:
            sid += 1
        want.append((t, sid))
        prev = t
    assert got == want


@SET
@given(
    lt=st.lists(st.integers(0, 300), min_size=1, max_size=30),
    rt=st.lists(st.integers(0, 300), min_size=1, max_size=30, unique=True),
    bw=st.one_of(st.none(), st.integers(1, 100)),
)
def test_asof_backward_vs_python_bisect(spark, lt, rt, bw):
    l = spark.createDataFrame(pd.DataFrame({"k": 1, "t": lt}))
    r = spark.createDataFrame(
        pd.DataFrame({"k": 1, "t": rt, "rv": [float(t) for t in rt]}))
    out = asof_join(l, r, ["k"], "t", "t", ["rv"], bucket_width=bw).toPandas()
    rs = sorted(rt)
    want = {}
    for t in lt:
        i = bisect.bisect_right(rs, t)
        want[t] = rs[i - 1] if i else None
    for _, row in out.iterrows():
        m = want[row["t"]]
        got = None if pd.isna(row["t_right"]) else int(row["t_right"])
        assert got == m
        if m is not None:
            assert row["rv_right"] == float(m)


series = st.lists(
    st.tuples(st.integers(0, 300), st.one_of(st.none(), st.floats(
        -100, 100, allow_nan=False))),
    min_size=1, max_size=40, unique_by=lambda r: r[0],
)


def _fill_frames(spark, pts):
    """The series under key 1 and again under a NULL key."""
    return spark.createDataFrame([(k, t, v) for k in (1, None) for t, v in pts],
                                 "k int, t long, v double")


def _by_key(df):
    return df.toPandas().sort_values(["k", "t"])


#: observations two buckets of width 10 apart around a lone NULL: the
#: fills of its bucket need the carry
CARRY = [(0, None), (5, 2.0), (15, None), (25, 3.0)]


@SET
@given(pts=series, bw=st.integers(1, 100),
       limit=st.one_of(st.none(), st.integers(0, 50)))
@example(pts=CARRY, bw=10, limit=None)
def test_locf_nocb_bucketed_equals_flat(spark, pts, bw, limit):
    from intervalaverage_spark.operators.fill import locf, nocb

    df = _fill_frames(spark, pts)
    for op in (locf, nocb):
        flat = _by_key(op(df, "t", ["v"], ["k"], limit=limit))
        buck = _by_key(op(df, "t", ["v"], ["k"], limit=limit, bucket_width=bw))
        assert flat["v_filled"].fillna(-1e18).tolist() \
            == buck["v_filled"].fillna(-1e18).tolist(), op.__name__


@SET
@given(pts=series, bw=st.integers(1, 100))
@example(pts=CARRY, bw=10)
def test_interpolate_bucketed_equals_flat(spark, pts, bw):
    from intervalaverage_spark.operators.fill import interpolate_linear

    df = _fill_frames(spark, pts)
    flat = _by_key(interpolate_linear(df, "t", ["v"], ["k"]))
    buck = _by_key(interpolate_linear(df, "t", ["v"], ["k"], bucket_width=bw))
    f = flat["v_filled"].to_numpy()
    b = buck["v_filled"].to_numpy()
    assert ((pd.isna(f) & pd.isna(b)) | np.isclose(f, b, equal_nan=True)).all()


@SET
@given(pts=series, bw=st.integers(1, 100),
       reset=st.sampled_from(["none", "zero"]))
@example(pts=[(5, 1.0), (15, 3.0)], bw=10, reset="none")
def test_rate_bucketed_equals_flat(spark, pts, bw, reset):
    from intervalaverage_spark.operators.analytics import rate as _rate

    df = _fill_frames(spark, pts)
    flat = _by_key(_rate(df, "t", "v", ["k"], counter_reset=reset))
    buck = _by_key(_rate(df, "t", "v", ["k"], counter_reset=reset, bucket_width=bw))
    f, b = flat["rate"].to_numpy(), buck["rate"].to_numpy()
    assert ((pd.isna(f) & pd.isna(b)) | np.isclose(f, b, equal_nan=True)).all()


@SET
@given(
    ts=st.lists(st.integers(0, 500), min_size=1, max_size=50),
    gap=st.integers(0, 30),
    bw=st.integers(1, 120),
)
@example(ts=[0, 5, 15, 40], gap=10, bw=10)
def test_sessionize_bucketed_equals_flat(spark, ts, gap, bw):
    """Time-sliced sessionize (within-bucket islands + bucket-granularity
    merge pass) must assign the IDENTICAL session ids as the flat window —
    including duplicate timestamps, gap=0, the everything-merges
    gap >= bucket_width regime, and the same times under a NULL key."""
    df = spark.createDataFrame([(k, t) for k in (1, None) for t in ts], "k int, t long")
    flat = sessionize(df, "t", gap, ["k"]).toPandas()
    buck = sessionize(df, "t", gap, ["k"], bucket_width=bw).toPandas()

    def ids(out):
        return sorted(zip(out["k"].fillna(-1), out["t"], out["session_id"]))

    assert ids(flat) == ids(buck)


@SET
@given(pts=series, w=st.sampled_from([0, 1, 37, 1000]))
def test_rolling_minmax_equals_direct_frame(spark, pts, w):
    """Two-block rolling min/max must equal the direct RANGE frame for
    any point set — NULL runs, singleton blocks, width 0, widths larger
    than the whole span."""
    from intervalaverage_spark.operators.analytics import rolling, rolling_minmax

    df = _fill_frames(spark, pts)
    want = _by_key(rolling(df, "t", "v", w, ["k"], aggs=("min", "max")))
    got = _by_key(rolling_minmax(df, "t", "v", w, ["k"]))
    for c in ("v_roll_min", "v_roll_max"):
        f, b = want[c].to_numpy(), got[c].to_numpy()
        assert ((pd.isna(f) & pd.isna(b)) | np.isclose(f, b, equal_nan=True)).all(), c


@SET
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 300),        # id
                  st.integers(0, 3),          # key (few keys -> hot)
                  st.integers(-50, 50)),      # quality
        min_size=1, max_size=60, unique_by=lambda t: t[0]),
    n=st.integers(1, 5),
    buckets=st.integers(1, 6),
)
def test_cap_per_key_flat_eq_salted_property(spark, rows, n, buckets):
    """Salted two-phase cap must equal the flat window for ANY data/knob
    combo — including n larger than a group, all-one-key hot inputs, and
    quality ties (hash tiebreak decides identically on both paths)."""
    from intervalaverage_spark.functions.sampling import cap_per_key

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "key", "q"]))
    flat = cap_per_key(df, ["key"], n, ["id"], order_col="q")
    salted = cap_per_key(df, ["key"], n, ["id"], order_col="q",
                         salt_buckets=buckets)
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b
    per_key: dict[int, int] = {}
    for _, k, _q in a:
        per_key[k] = per_key.get(k, 0) + 1
    assert all(v <= n for v in per_key.values())


@SET
@given(
    texts=st.lists(
        st.text(alphabet="ab \n", min_size=0, max_size=40),
        min_size=1, max_size=8),
)
def test_repetition_stats_invariants(spark, texts):
    """dup fractions live in [0, 1]; top-gram coverage is non-negative
    (may exceed 1 — overlapping grams); n_lines matches a python split;
    dup_line_frac == python reference on arbitrary whitespace soup."""
    from intervalaverage_spark.functions.textstats import repetition_stats

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    out = {r["doc_id"]: r for r in repetition_stats(df, ns=(2,)).collect()}
    for i, t in enumerate(texts):
        r = out[i]
        lines = t.split("\n")
        assert r["n_lines"] == len(lines)
        from collections import Counter

        cnt = Counter(lines)
        dup = sum(c for c in cnt.values() if c > 1)
        assert r["dup_line_frac"] == pytest.approx(
            dup / len(lines), abs=2e-6)
        assert 0.0 <= r["dup_line_frac"] <= 1.0
        assert 0.0 <= r["dup_2gram_frac"] <= 1.0
        assert r["top_2gram_char_frac"] >= 0.0


# ------------------------------------------------ round-7 second wave

words = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "xy", "q1"]),
             min_size=0, max_size=12),
    min_size=1, max_size=12,
)


@SET
@given(docs=words, budget=st.integers(1, 9))
def test_pack_sequences_vs_python(spark, docs, budget):
    """pack_sequences against a pure-python prefix-sum reference:
    offsets, spans and boundary flags for arbitrary (incl. empty) docs
    and tiny budgets; fill stats conserve the token stream."""
    from pyspark.sql import functions as F
    from intervalaverage_spark.functions.packing import (
        pack_sequences,
        sequence_fill_stats,
    )

    pdf = pd.DataFrame({
        "doc_id": range(len(docs)),
        "text": [" ".join(d) for d in docs],
    })
    df = spark.createDataFrame(pdf)
    got = {r["doc_id"]: r for r in
           pack_sequences(df, budget=budget).collect()}
    off = 0
    total = 0
    for i, d in enumerate(docs):
        n = len(d)
        start, end = off, off + n
        sf_ = start // budget
        sl_ = max(end - 1, start) // budget
        r = got[i]
        assert (r["n_tokens"], r["start_offset"], r["seq_first"],
                r["seq_last"], r["crosses_boundary"]) == (
            n, start, sf_, sl_, sl_ > sf_)
        off = end
        total += n
    fill = sequence_fill_stats(df, budget=budget)
    agg = fill.agg(F.sum("n_tokens"), F.max("fill_fraction")).first()
    assert (agg[0] or 0) == total
    assert agg[1] is None or agg[1] <= 1.0


snapshots = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 1000),
              st.sampled_from(["p", "q", "r"])),
    min_size=1, max_size=30,
)


@SET
@given(snaps=snapshots, hl=st.integers(10, 5000))
def test_recrawl_priority_bounds_and_reference(spark, snaps, hl):
    """recrawl_priority against a pure-python reference: decayed sums,
    rate in [0,1], weights bounded by revisit count; ties ordered
    (ts, fingerprint) exactly like the operator."""
    import datetime
    import hashlib

    from intervalaverage_spark.functions.churn import recrawl_priority

    t0 = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame({
        "k": [k for k, _, _ in snaps],
        "ts": [t0 + datetime.timedelta(seconds=s) for _, s, _ in snaps],
        "p": [p for _, _, p in snaps],
    })
    out = {r["k"]: r for r in
           recrawl_priority(spark.createDataFrame(pdf), "k", "ts", "p",
                            half_life_secs=hl).collect()}
    base = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp())
    fp = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    as_of = max(t for _, t, _ in snaps) + base
    ref = {}
    for k in {k for k, _, _ in snaps}:
        rows_ = sorted(((t + base, fp(p)) for kk, t, p in snaps if kk == k),
                       key=lambda x: (x[0], x[1]))
        if len(rows_) < 2:
            assert k not in out
            continue
        dc = dv = 0.0
        for (pt, pf), (t, f) in zip(rows_, rows_[1:]):
            w = 2.0 ** (-(as_of - t) / hl)
            dv += w
            if f != pf:
                dc += w
        ref[k] = (len(rows_), round(dc, 6), round(dv, 6),
                  as_of - rows_[-1][0])
    assert set(out) == set(ref)
    for k, (n, dc, dv, since) in ref.items():
        r = out[k]
        assert r["n_snapshots"] == n and r["secs_since_last"] == since
        assert abs(r["decayed_changes"] - dc) <= 2e-6
        assert abs(r["decayed_visit_mass"] - dv) <= 2e-6
        assert 0.0 <= r["decayed_change_rate"] <= 1.0


# ------------------------------------------------ round-7 sketch family

key_sets = st.lists(st.integers(0, 10_000), min_size=1, max_size=60,
                    unique=True)


@SET
@given(members=key_sets, probes=key_sets,
       m_words=st.sampled_from([2, 8, 32]), k=st.integers(1, 6))
def test_bloom_no_false_negatives_property(spark, members, probes,
                                           m_words, k):
    """NO false negatives, for arbitrary member/probe sets and filter
    geometry down to a 64-bit filter — the structural guarantee dedup
    safety rests on. Verified against a pure-python md5 replay."""
    import hashlib

    from intervalaverage_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )

    m_bits = m_words * 32
    mdf = spark.createDataFrame(pd.DataFrame({"key": members}))
    words = bloom_build(mdf, "key", m_bits, k, seed="hyp")
    pdf_ = spark.createDataFrame(pd.DataFrame({"key": probes}))
    got = {r["key"]: r["maybe_present"]
           for r in bloom_probe(pdf_, "key", words, m_bits, k,
                                seed="hyp").collect()}

    def positions(key: int) -> set[int]:
        return {
            int(hashlib.md5(f"hyp\x1f{i}\x1f{key}".encode())
                .hexdigest()[:12], 16) % m_bits
            for i in range(k)
        }

    bits = set().union(*(positions(x) for x in members))
    for p in probes:
        want = positions(p) <= bits
        assert got[p] == want          # exact: not just no-FN, bit-replay
        if p in members:
            assert got[p] is True


weighted_streams = st.lists(
    st.tuples(st.integers(0, 50), st.integers(1, 30)),
    min_size=1, max_size=40,
)


@SET
@given(obs=weighted_streams, width=st.sampled_from([4, 16, 64]),
       depth=st.integers(1, 5))
def test_cms_never_undercounts_property(spark, obs, width, depth):
    """est ≥ true for arbitrary weighted streams and sketch geometry
    down to 4 counters per row (heavy forced collisions)."""
    from collections import Counter

    from intervalaverage_spark.functions.cms import cms_build, cms_estimate

    true = Counter()
    for key, w in obs:
        true[key] += w
    stream = spark.createDataFrame(
        pd.DataFrame({"key": [k for k, _ in obs],
                      "w": [w for _, w in obs]}))
    sketch = cms_build(stream, "key", width, depth, seed="hyp",
                       weight_col="w")
    keys = spark.createDataFrame(pd.DataFrame({"key": list(true)}))
    got = {r["key"]: r["cms_est"]
           for r in cms_estimate(keys, "key", sketch, width, depth,
                                 seed="hyp").collect()}
    total = sum(true.values())
    for key, t in true.items():
        assert t <= got[key] <= total


@SET
@given(keys=key_sets, pivot=st.integers(0, 10_000),
       b=st.sampled_from([4, 7, 10]))
def test_hll_merge_property(spark, keys, pivot, b):
    """Register-wise merge of ANY two-way split equals the whole-set
    sketch, and duplicating observations changes nothing."""
    from intervalaverage_spark.functions.hll import (
        hll_merge,
        hll_registers,
    )

    whole = spark.createDataFrame(pd.DataFrame({"k": keys}))
    dup = whole.unionByName(whole)          # idempotence under dups
    want = sorted((r["reg"], r["max_rank"]) for r in
                  hll_registers(dup, "k", b, seed="hyp").collect())
    lo = [x for x in keys if x < pivot] or keys[:1]
    hi = [x for x in keys if x >= pivot] or keys[:1]
    h1 = hll_registers(
        spark.createDataFrame(pd.DataFrame({"k": lo})), "k", b, seed="hyp")
    h2 = hll_registers(
        spark.createDataFrame(pd.DataFrame({"k": hi})), "k", b, seed="hyp")
    got = sorted((r["reg"], r["max_rank"]) for r in
                 hll_merge(h1, h2).collect())
    # the split may double-cover keys[:1]; max absorbs duplicates, and
    # union-of-splits covers exactly the key set, so merged == whole
    assert got == want
