"""Round-8 optimization-round focused tests.

Every optimization this round is required to be bit-identical; these
tests pin the specific equivalences the round introduced:

* ``bind_once`` let-binding == the naive inlined-tokens expression;
* ``_dot_lit_unrolled`` == the literal-array zip fold on regular,
  short, long, null and null-element vectors;
* the cogrouped Arrow rerank (knn_join) == the same top-k with
  degenerate rows present (no crash, degenerate rows never rank);
* plan-audit mode (``dedup._ckpt`` patched to the identity) changes
  plans, never results;
* ``dedup_clusters``' convergence probe converges a long chain to the
  same labels the definition demands.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows  # noqa: F401  (fixture helpers)


def _old_shingles(col, n=3):
    """The pre-round-8 formulation: tokens inlined in the per-gram
    lambda (O(len²) per doc, but the semantic reference)."""
    from intervalaverage_spark.functions.textstats import tokens

    toks = tokens(col)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    whole = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(k >= n, grams).otherwise(whole))


def test_bind_once_shingles_equal_naive(spark):
    from intervalaverage_spark.functions.dedup import shingles

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "one two"), (2, ""), (3, None),
         (4, "x  y\t z   x y z x y"), (5, "solo")],
        "doc_id long, text string",
    )
    out = df.select(
        shingles("text", 3).alias("new"), _old_shingles("text", 3).alias("old")
    ).collect()
    for r in out:
        assert r["new"] == r["old"]


def test_dot_lit_unrolled_matches_fold_on_degenerate_vectors(spark):
    from intervalaverage_spark.functions.ann import _dot_lit, _dot_lit_unrolled

    lits = [0.5, -1.25, 2.0, 3.5]
    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0]),        # regular
            (1, [1.0, 2.0]),                  # short
            (2, [1.0, 2.0, 3.0, 4.0, 5.0]),   # long
            (3, None),                        # null vector
            (4, [1.0, None, 3.0, 4.0]),       # null element
        ],
        "vec_id long, v array<double>",
    )
    out = df.select(
        "vec_id",
        _dot_lit(F.col("v"), lits).alias("fold"),
        _dot_lit_unrolled(F.col("v"), lits).alias("unrolled"),
    ).collect()
    for r in out:
        assert r["fold"] == r["unrolled"], r


def test_knn_join_cogroup_tolerates_degenerate_rows(spark):
    """Broadcast-path knn_join with NULL / ragged / zero-norm index rows:
    the cogrouped rerank must neither crash nor surface them as
    neighbors (their cell assignment is NULL, so they never join — the
    exact inner-join semantics the cogroup restores)."""
    from intervalaverage_spark.functions.ann import knn_join

    dim = 8
    base = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: (F.col("id") + i + 1).cast("double")).alias("v"),
    )
    bad = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * dim), (100003, [1.0] * (dim - 1))],
        f"vec_id long, v array<double>",
    )
    idx = base.unionByName(bad)
    out = knn_join(base, idx, "vec_id", "v", "vec_id", "v", k=3,
                   n_cells=4, nprobe=2, exclude_self=True,
                   method="broadcast").collect()
    # every query ranks SOME neighbors (≤k each; sparse probed cells may
    # yield fewer — the nprobe recall trade-off, not a kernel defect),
    # ranks are contiguous from 1, and no degenerate row ever surfaces
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(range(40))
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
    nn = {r["nn_id"] for r in out}
    assert not nn & {100001, 100002, 100003}
    for r in out:
        assert r["cosine"] is not None


def test_knn_join_literal_equals_broadcast_after_cogroup(spark):
    """Both centroid paths feed the same cogrouped rerank — outputs must
    stay row-identical (the pre-round-8 pin, re-asserted through the new
    kernel)."""
    from intervalaverage_spark.functions.ann import knn_join

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = knn_join(e.filter(F.col("vec_id") % 20 == 0), e, "vec_id",
                 "embedding", "vec_id", "embedding", k=5, n_cells=8,
                 nprobe=2, exclude_self=True)
    b = knn_join(e.filter(F.col("vec_id") % 20 == 0), e, "vec_id",
                 "embedding", "vec_id", "embedding", k=5, n_cells=8,
                 nprobe=2, exclude_self=True, method="broadcast")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_plan_audit_mode_identical_results(spark, monkeypatch):
    """Patching ``dedup._ckpt`` to the identity removes the detectors'
    materialization but may not change a single output row."""
    from intervalaverage_spark.functions import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with_ckpt = sorted(map(tuple, dd.prefix_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5).collect()))
    monkeypatch.setattr(dd, "_ckpt", lambda df: df)
    without = sorted(map(tuple, dd.prefix_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5).collect()))
    assert with_ckpt == without


def test_dedup_clusters_sum_probe_long_chain(spark):
    """A 12-node path graph needs several propagation rounds — the
    convergence probe must keep iterating until true convergence and
    produce the textbook component labels."""
    from intervalaverage_spark.functions.dedup import dedup_clusters

    n = 12
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long")
    out = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
           for r in dedup_clusters(nodes, pairs).collect()}
    assert out == {i: (0, n) for i in range(n)}


def test_dedup_clusters_sum_probe_nonconvergence_still_raises(spark):
    from intervalaverage_spark.functions.dedup import dedup_clusters

    n = 12
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(nodes, pairs, max_iter=2)
