"""Approximate nearest-neighbor search over an embedding column.

Two paths, the standard scale story:

* :func:`brute_topk`   — exact cosine top-k: one scan, JVM-side
  ``zip_with``/``aggregate`` dot products, ``orderBy ... limit k``. The
  baseline and the in-bucket verifier. At 10^9 vectors this is the
  per-bucket step, never the global plan.
* :func:`srp_bucket` / :func:`srp_topk` — signed-random-projection LSH:
  ``bands`` independent groups of ``planes`` hyperplanes; bucket key per
  band = the sign-bit pattern of the projections. Candidates = vectors
  sharing ≥1 band bucket with the query → exact cosine re-rank. Sub-linear:
  each band bucket holds ~n/2^planes vectors, the scan prunes to the
  matching buckets (partition-prunable if the table is written bucketed by
  ``srp_b0``).

Hyperplane weights are DETERMINISTIC pure-integer arithmetic (Knuth
multiplicative mix, mod 1000003) — no RNG state, no hash function — so any
engine reproduces them exactly: the DuckDB oracle inlines the same literal
plane vectors. This is how the driver's value-hash compare can cover an
"approximate" index: the approximation is a deterministic function of the
data, not of a seed.
"""

from __future__ import annotations

# numpy/pandas MUST be imported at module scope: under
# ``from __future__ import annotations`` the pandas_udf type hints below are
# the *strings* ``'pd.Series'``, and pyspark's ``infer_eval_type`` resolves
# them against this module's globals — a function-local ``import pandas``
# leaves the hint unresolvable and the decorator raises UNSUPPORTED_SIGNATURE
# at definition time (the round-6 regression).
import math
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from intervalaverage_spark.validation import _aliased, _no_collision, _plus, _q

#: mix constants (Knuth multiplicative hashing; public domain folklore)
_A = 2654435761
_M = 1000003


def plane_weight(band: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-0.5, 0.5). Exact in any
    engine with 64-bit integers; replicated literally in SQL oracles."""
    idx = (band * 64 + plane) * 4096 + dim
    return ((idx * _A) % _M) / _M - 0.5


def plane_vector(band: int, plane: int, dims: int) -> list[float]:
    return [plane_weight(band, plane, d) for d in range(dims)]


def _dot_lit(vec: Column, lits: list[float]) -> Column:
    """Dot of a data vector against a LITERAL vector — the fold form.

    Kept as the fold ON MEASUREMENT (round-8): an unrolled 64-term chain
    is ~2× faster per row in execution, but costs ~400 expression nodes
    per dot; replicated once per centroid (n_cells of them, in BOTH the
    probe array and the assignment projection) the query tree reaches
    ~26k nodes and Catalyst/codegen spend 10-15 s of DRIVER time per
    action (guide §7.3, "very large plans") — more than the unroll saves.
    Use :func:`_dot_lit_unrolled` only where a plan contains O(1) dots."""
    arr = F.array(*[F.lit(float(w)) for w in lits])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, w: x * w), F.lit(0.0),
        lambda s, p: s + p
    )


def _dot_lit_unrolled(vec: Column, lits: list[float]) -> Column:
    """Codegen-unrolled twin of :func:`_dot_lit` for plans with O(1) dot
    evaluations (single-query scans like :func:`brute_topk`).

    Bit-identical to the fold for every input: the zip pads the shorter
    side with null and one null product nulls the running fold, so the
    fold is NULL whenever ``size(vec) != len(lits)`` (or any element is
    null) — reproduced here by the size guard (and by ``F.get``'s null
    for short rows). When the sizes match, the unrolled sum is the same
    left-associated ((0+p₀)+p₁)+… chain over the same products. Measured
    2.3× faster than the fold on a 200k-row scan.

    The size guard is a MULTIPLICATIVE null-or-one term, not a
    ``when(cond, chain)``: codegen cannot split expressions inside a
    CaseWhen branch into sub-methods, so wrapping the 64-term chain in a
    conditional produced one huge un-JIT-able method — measured 6.5×
    SLOWER than the flat chain (BENCH notes r8). ``s * 1.0`` is
    bit-identical to ``s`` (IEEE), and ``s * NULL`` is NULL — exactly the
    fold's result for a size-mismatched row."""
    s: Column = F.lit(0.0)
    for i, w in enumerate(lits):
        s = s + F.get(vec, i) * F.lit(float(w))
    return s * F.when(F.size(vec) == len(lits), F.lit(1.0))


def _norm_py(vec: list[float]) -> float:
    """Driver-side L2 norm with the JVM fold's exact order (sequential
    ``acc + x·x`` then one IEEE sqrt) — used to pre-fold literal centroid
    norms into constants instead of re-evaluating an interpreted fold over
    a constant array once per row per centroid."""
    s = 0.0
    for x in vec:
        s = s + float(x) * float(x)
    return math.sqrt(s)


def _norm(a: Column) -> Column:
    """L2 norm as the standard fold — computed ONCE PER ROW and carried as
    a column where pair-scoring used to re-fold it per candidate pair."""
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                    lambda s, p: s + p)
    )


def _normed(e: DataFrame) -> DataFrame:
    """Entered vectors ``e`` plus ``nrm``, the L2 norm of ``v``."""
    return e.withColumn("nrm", _norm(F.col("v").cast("array<double>")))


def _fold_dot_py(a, b):
    """Python replica of the JVM zip fold for one pair: NULL when either
    side is NULL, the lengths differ (null-padded zip), or any element is
    NULL; otherwise the same sequential ((0+p₀)+p₁)+… sum in float64."""
    if a is None or b is None:
        return None
    if len(a) != len(b):
        return None
    s = np.float64(0.0)
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        s = s + np.float64(x) * np.float64(y)
    return s


def _rerank_cogroup(
    left: DataFrame, right: DataFrame, dim: int, exclude_self: bool,
) -> DataFrame:
    """Exact cosine scoring of all (query, candidate) pairs that share an
    IVF cell — rows ``(id, v, nrm, cell)`` of the entered queries ``left``
    and index ``right`` — the kNN rerank as a CO-GROUPED Arrow kernel instead of an
    equi-join + per-pair interpreted fold.

    Why (round-8, guide §4.2/§2.3): the join materialized every candidate
    pair WITH both 64-double vectors (41M pairs ≈ 40 GB through the join)
    and then paid an interpreted ~20 µs zip fold per pair — 25 s of the
    200k self-join. Here each side shuffles ONCE, keyed by cell (~110 MB
    a side), and a per-cell numpy kernel scores the nq×ni block
    vectorized; only the skinny (q_id, nn_id, cosine) rows come back.

    Bit-exactness: the kernel accumulates ``C += Q[:,i]·Vᵀ[:,i]`` over
    i = 0..dim-1 — per pair that is the fold's exact left-associated
    float64 sum (no FMA, no pairwise reduction) — then divides by the
    JVM-computed ``qn·nb`` in the fold's association, and returns the RAW
    cosine so the JVM applies the same ``F.round``. Any irregular group
    (null/ragged/odd-width vectors, null norms or ids) drops to a per-pair
    Python fold that replicates the zip semantics literally (including
    real scores for two same-but-odd-width vectors). Equality is pinned
    against the join-path output by fingerprint and by the DuckDB oracle
    rows (knn_join_embeddings / knn_join_self_embeddings)."""
    q_t = left.schema["id"].dataType.simpleString()
    n_t = right.schema["id"].dataType.simpleString()
    out_schema = f"q_id {q_t}, nn_id {n_t}, __c double"

    def _matrix(col):
        """(n×dim float64 matrix, None) on the regular fast path, or
        (None, list-of-python-lists) when any irregularity is present."""
        arr = col.combine_chunks()
        if (arr.null_count == 0
                and arr.values.null_count == 0
                and pc.all(pc.equal(pc.list_value_length(arr), dim)).as_py()):
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64, copy=False).reshape(len(arr), dim), None
        return None, arr.to_pylist()

    def score(lt: pa.Table, rt: pa.Table) -> pa.Table:
        nq, ni = lt.num_rows, rt.num_rows
        if nq == 0 or ni == 0:
            return pa.table({
                "q_id": pa.array([], type=lt.schema.field("id").type),
                "nn_id": pa.array([], type=rt.schema.field("id").type),
                "__c": pa.array([], type=pa.float64()),
            })
        qids, nids = lt.column("id"), rt.column("id")
        qn_col, nb_col = lt.column("nrm"), rt.column("nrm")
        Q, q_rows = _matrix(lt.column("v"))
        V, v_rows = _matrix(rt.column("v"))
        regular = (
            Q is not None and V is not None
            and qids.null_count == 0 and nids.null_count == 0
            and qn_col.null_count == 0 and nb_col.null_count == 0
        )
        if regular:
            qid_np = qids.combine_chunks().to_numpy(zero_copy_only=False)
            nid_np = nids.combine_chunks().to_numpy(zero_copy_only=False)
            qn = qn_col.combine_chunks().to_numpy(zero_copy_only=False)
            nb = nb_col.combine_chunks().to_numpy(zero_copy_only=False)
            out_q, out_n, out_c = [], [], []
            # bound the nq×ni score block (huge cells chunk by queries;
            # per-element arithmetic is unchanged)
            step = max(1, min(nq, int(4_000_000 // max(ni, 1)) or 1))
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                for lo in range(0, nq, step):
                    hi = min(lo + step, nq)
                    Qb = Q[lo:hi]
                    C = np.zeros((hi - lo, ni), dtype=np.float64)
                    for i in range(dim):
                        C += Qb[:, i][:, None] * V[:, i][None, :]
                    C /= (qn[lo:hi][:, None] * nb[None, :])
                    qi = np.repeat(np.arange(lo, hi), ni)
                    vi = np.tile(np.arange(ni), hi - lo)
                    c = C.ravel()
                    if exclude_self:
                        keep = qid_np[qi] != nid_np[vi]
                        qi, vi, c = qi[keep], vi[keep], c[keep]
                    out_q.append(qid_np[qi])
                    out_n.append(nid_np[vi])
                    out_c.append(c)
            return pa.table({
                "q_id": pa.array(np.concatenate(out_q), type=qids.type),
                "nn_id": pa.array(np.concatenate(out_n), type=nids.type),
                "__c": pa.array(np.concatenate(out_c), type=pa.float64()),
            })
        # irregular group: per-pair python fold, exact zip semantics
        q_rows = q_rows if q_rows is not None else [list(r) for r in Q]
        v_rows = v_rows if v_rows is not None else [list(r) for r in V]
        qid_l, nid_l = qids.to_pylist(), nids.to_pylist()
        qn_l, nb_l = qn_col.to_pylist(), nb_col.to_pylist()
        oq, on, oc = [], [], []
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            for a in range(nq):
                for b in range(ni):
                    if exclude_self and (
                            qid_l[a] is None or nid_l[b] is None
                            or qid_l[a] == nid_l[b]):
                        continue
                    dot = _fold_dot_py(q_rows[a], v_rows[b])
                    if dot is None or qn_l[a] is None or nb_l[b] is None:
                        c = None
                    else:
                        c = float(dot / (np.float64(qn_l[a]) * np.float64(nb_l[b])))
                    oq.append(qid_l[a])
                    on.append(nid_l[b])
                    oc.append(c)
        return pa.table({
            "q_id": pa.array(oq, type=qids.type),
            "nn_id": pa.array(on, type=nids.type),
            "__c": pa.array(oc, type=pa.float64()),
        })

    out = (
        left.groupby("cell")
        .cogroup(right.groupby("cell"))
        .applyInArrow(score, schema=out_schema)
    )
    return out.select(
        F.col("q_id"), F.col("nn_id"), F.round("__c", 6).alias("cosine")
    )


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, p: s + p)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, p: s + p))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, p: s + p))
    return dot / (na * nb)


def srp_bucket(vec: Column, dims: int, band: int, planes: int = 8) -> Column:
    """Bucket id for one band: integer whose bit p is sign(vec · w_bp)."""
    out = F.lit(0).cast("long")
    for p in range(planes):
        bit = F.when(_dot_lit(vec, plane_vector(band, p, dims)) >= 0, F.lit(1 << p)).otherwise(0)
        out = out + bit.cast("long")
    return out


def srp_bucket_py(vec: list[float], band: int, planes: int = 8) -> int:
    """Driver-side twin of :func:`srp_bucket` (same fold order)."""
    out = 0
    for p in range(planes):
        s = 0.0
        for d, x in enumerate(vec):
            s = s + float(x) * plane_weight(band, p, d)
        if s >= 0:
            out += 1 << p
    return out


def with_srp_buckets(
    df: DataFrame, vec_col: str, dims: int, bands: int = 2, planes: int = 8
) -> DataFrame:
    """Append ``srp_b{i}`` bucket columns — write-time layout step: store
    the table partitioned/bucketed by ``srp_b0`` and band-bucket scans
    become partition-pruned."""
    out = [f"srp_b{b}" for b in range(bands)]
    e, back = _plus(df, {"v": vec_col}, out)
    v = F.col("v").cast("array<double>")
    return e.select(*back, *(srp_bucket(v, dims, b, planes).alias(c) for b, c in enumerate(out)))


def _ranked(
    df: DataFrame, query_vec: list[float], id_col: str, vec_col: str, k: int,
    probe: Callable[[DataFrame], DataFrame] = lambda e: e,
) -> DataFrame:
    """Exact cosine top-``k`` against the literal ``query_vec`` over the
    rows ``probe`` keeps of ``df``'s id and vector columns, entered as
    ``id`` and ``v``: ``(id_col, cosine)``, ties → id asc.

    Unrolled literal dot (bit-identical — see :func:`_dot_lit`); the query
    norm is a pre-folded constant (:func:`_norm_py`)."""
    _no_collision(["cosine"], [id_col])
    qf = [float(x) for x in query_vec]
    v = F.col("v").cast("array<double>")
    cos = _dot_lit_unrolled(v, qf) / (_norm(v) * F.lit(_norm_py(qf)))
    return (
        probe(_aliased(df, {"id": id_col, "v": vec_col}))
        .select("id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
        .withColumnRenamed("id", id_col)
    )


def brute_topk(
    df: DataFrame, query_vec: list[float], id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact cosine top-k against a literal query vector (ties → id asc)."""
    return _ranked(df, query_vec, id_col, vec_col, k)


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the SAME left-to-right fold order as
    :func:`cosine` (and DuckDB's list_cosine_similarity loop)."""
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
    na = 0.0
    for x in a:
        na = na + float(x) * float(x)
    nb = 0.0
    for y in b:
        nb = nb + float(y) * float(y)
    return dot / (na**0.5 * nb**0.5)


def _centroid_matrix(cents: list[tuple[int, list[float]]]):
    """(cids ascending, L2-normalized centroid matrix) for the broadcast
    assignment path. Ascending cid order makes numpy's first-occurrence
    ``argmax`` the same tie-break as the literal path's ``greatest`` over
    (cosine, -cid) structs: among equal rounded cosines, lowest cid."""
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    order = np.argsort(cids)
    cids = cids[order]
    mat = np.array([cents[i][1] for i in order], dtype=np.float64)
    return cids, mat / np.sqrt((mat * mat).sum(axis=1, keepdims=True))


def _round_half_up(x, decimals: int = 6):
    """HALF_UP rounding (away from zero on ties) — matches Spark's
    ``F.round`` semantics; ``np.round`` is round-half-to-even, which can
    differ at 6-dp tie boundaries. Residual caveat (documented, not
    fixable): the GEMM sums products in a different order than the
    expression fold, so an unrounded cosine can land on the *other side*
    of a tie boundary than the fold's — equality with the literal path is
    therefore fixture-verified, not bit-guaranteed for all inputs."""
    scale = 10.0 ** decimals
    if isinstance(x, np.ndarray) and x.dtype == np.float64:
        # in-place on the (always freshly-allocated) GEMM output: the
        # expression form allocated ~5 score-matrix-sized temporaries per
        # batch (batch × n_cells doubles each) — significant first-touch
        # page traffic at 2048 cells (round-8, guide §5)
        s = np.sign(x)
        np.abs(x, out=x)
        np.multiply(x, scale, out=x)
        np.add(x, 0.5, out=x)
        np.floor(x, out=x)
        np.divide(x, scale, out=x)
        np.multiply(x, s, out=x)
        return x
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _clean_vectors(vs: pd.Series, dim: int):
    """(mask, normalized matrix) for an Arrow batch of embedding vectors.

    Rows that are NULL, ragged, contain NULL elements, or have zero norm
    are masked out (the caller emits NULL for them) — mirroring the
    literal expression path, which degrades to NULL/NaN per row instead
    of failing the job (ADVICE r6)."""
    n = len(vs)
    ok = np.zeros(n, dtype=bool)
    # FAST PATH (the overwhelmingly common batch: every row non-null and
    # exactly dim floats): one C-level stack instead of a Python loop over
    # rows×elements. Rows with None/NaN elements either fail the stack
    # (TypeError/ValueError → slow path) or surface as non-finite norms —
    # masked identically to the slow path either way.
    try:
        m = np.array(list(vs), dtype=np.float64)
        if m.ndim == 2 and m.shape == (n, dim):
            norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
            good = (norms[:, 0] > 0.0) & np.isfinite(norms[:, 0])
            ok[:] = good
            return ok, m[good] / norms[good]
    except (TypeError, ValueError):
        pass
    rows = []
    for i, v in enumerate(vs):
        if v is None:
            continue
        lst = list(v)
        if len(lst) != dim or any(x is None for x in lst):
            continue
        ok[i] = True
        rows.append(lst)
    if not rows:
        return ok, np.zeros((0, dim), dtype=np.float64)
    m = np.array(rows, dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    good = (norms[:, 0] > 0.0) & np.isfinite(norms[:, 0])
    ok[np.flatnonzero(ok)[~good]] = False
    return ok, m[good] / norms[good]


def assign_cells_broadcast(
    df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]],
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Cell assignment against a BROADCAST centroid table — the
    n_cells ≈ √n path. The literal-expression path (:func:`ivf_cells`
    default) compiles one struct literal PER CENTROID into the
    projection: at the n_cells a 10^8-vector table wants (~10^4), that is
    10^4 interpreted higher-order cosine folds per row and a plan tree
    Catalyst cannot sensibly compile. Here the centroid matrix ships
    once per executor (``sc.broadcast``) and each Arrow batch does ONE
    numpy GEMM (batch × n_cells × dim) + argmax.

    This is the regime where a pandas_udf WINS: per row it replaces
    n_cells interpreted folds, so the Arrow serialization of the vector
    is amortized n_cells ways. (Contrast the round-5 rerank negative
    result — per-PAIR scoring, where Arrow shipped TWO vectors per
    single cosine and lost 1.6-1.9×. Measured crossover:
    BENCH/NOTES.md "IVF assignment: literal vs broadcast".)

    Tie-break and rounding mirror the literal path (cosine HALF_UP-rounded
    to 6 dp via :func:`_round_half_up`, ties → lowest centroid id);
    equality with the literal path is pinned on the fixture embeddings by
    tests/test_round6.py (see the float-summation-order caveat on
    :func:`_round_half_up`). NULL / ragged / zero-norm vectors get a NULL
    cell instead of crashing the batch, matching the literal path's
    degrade-to-NULL behavior."""
    e, back = _plus(df, {"v": vec_col}, [out_col])
    return _cells(e, cents, "broadcast").select(*back, F.col("cell").alias(out_col))


def probe_cells_broadcast(
    df: DataFrame, vec_col: str | Column,
    cents: list[tuple[int, list[float]]], nprobe: int,
) -> Column:
    """Per-row array of the ``nprobe`` centroid ids nearest each vector
    (cosine desc, cid-asc ties) via the broadcast centroid matrix — the
    query-side twin of :func:`assign_cells_broadcast` for
    :func:`knn_join`'s probe fan-out at large n_cells. ``df`` supplies
    the SparkContext the centroid matrix is broadcast through. NULL /
    ragged / zero-norm query vectors probe nothing (NULL array)."""
    bc = df.sparkSession.sparkContext.broadcast(_centroid_matrix(cents))
    dim = len(cents[0][1])

    @pandas_udf("array<long>")
    def _probes(vs: pd.Series) -> pd.Series:
        cids, cmat = bc.value
        out = [None] * len(vs)
        ok, vn = _clean_vectors(vs, dim)
        if vn.shape[0]:
            scores = _round_half_up(vn @ cmat.T)
            if nprobe == 1:
                # argmax = first occurrence of the max = lowest cid among
                # rounded ties (columns are cid-ascending) — exactly the
                # stable argsort's first element, without sorting n_cells
                # columns per row (round-8; the self-kNN regime is
                # n_cells ≈ √n with nprobe=1)
                top = scores.argmax(axis=1)
                for j, i in enumerate(np.flatnonzero(ok)):
                    out[i] = [int(cids[top[j]])]
            else:
                # stable argsort on -scores: descending cosine, cid-asc
                # ties (columns are already cid-ascending)
                idx = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
                for j, i in enumerate(np.flatnonzero(ok)):
                    out[i] = cids[idx[j]].tolist()
        return pd.Series(out, dtype="object")

    # asNondeterministic: pure, like the assignment UDF (:func:`_cells`);
    # the marker only pins a single evaluation under downstream filters
    return _probes.asNondeterministic()(
        F.expr(_q(vec_col)) if isinstance(vec_col, str) else vec_col)


def ivf_cells(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int = 16,
    method: str = "literal",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF-flat coarse quantizer with DETERMINISTIC sampled centroids: the
    ``n_cells`` lowest-id vectors ARE the centroids (no RNG, no k-means
    float state — any engine reproduces the cell assignment exactly, which
    is what makes the driver's value-hash oracle possible). Assignment =
    argmax ROUND(cosine, 6) with centroid-id tie-break, computed as ONE
    zero-shuffle projection (``greatest`` over literal-centroid structs).

    Scale notes: centroids are a bounded driver-side read (n_cells rows);
    the assignment scan is column-pruned and shuffle-free, and writing the
    table partitioned by ``ivf_cell`` makes probes partition-pruned. The
    interpreted higher-order cosine folds BEAT an Arrow pandas_udf here
    (measured in :func:`knn_join`: Arrow pays per-row vector
    serialization and lost 1.6-1.9× at dims 64 AND 512) — stay on the
    expression form. Real IVF trains
    centroids with k-means — sampled centroids are the deterministic
    stand-in with the same query-time structure (quantize → probe).

    ``method``: ``"literal"`` (default) compiles the centroids into the
    projection — right up to ~10² cells; ``"broadcast"`` ships them as a
    broadcast numpy matrix and assigns via one GEMM per Arrow batch
    (:func:`assign_cells_broadcast`) — the n_cells ≈ √n regime (10^4
    cells at 10^8 vectors), where a literal plan tree stops compiling
    sensibly. Both produce the IDENTICAL assignment (equality-pinned)."""
    e, back = _plus(df, {"id": id_col, "v": vec_col}, ["ivf_cell"])
    cents = _centroids(e, n_cells)
    return _cells(_normed(e), cents, method).select(*back, F.col("cell").alias("ivf_cell")), cents


def _centroids(e: DataFrame, n_cells: int) -> list[tuple[int, list[float]]]:
    """The ``n_cells`` lowest-id vectors of the entered ``(id, v)`` rows
    ``e``: the sampled centroids of :func:`ivf_cells`."""
    return [(int(i), [float(x) for x in v])
            for i, v in e.select("id", "v").orderBy("id").limit(n_cells).collect()]


def _cells(e: DataFrame, cents: list[tuple[int, list[float]]], method: str) -> DataFrame:
    """Entered vectors ``e`` plus ``cell``, the id of the centroid nearest
    ``v``: argmax ROUND(cosine, 6), ties → lowest centroid id, by the
    ``method`` of :func:`ivf_cells`. The literal method reads ``v``'s norm
    from ``nrm`` (:func:`_normed`)."""
    if method not in ("literal", "broadcast"):
        raise ValueError(f"method must be 'literal' or 'broadcast', got {method!r}")
    if method == "broadcast":
        bc = e.sparkSession.sparkContext.broadcast(_centroid_matrix(cents))
        dim = len(cents[0][1])

        @pandas_udf("long")
        def _cell(vs: pd.Series) -> pd.Series:
            cids, cmat = bc.value
            out = pd.array([None] * len(vs), dtype="Int64")
            ok, vn = _clean_vectors(vs, dim)
            if vn.shape[0]:
                scores = _round_half_up(vn @ cmat.T)
                out[np.flatnonzero(ok)] = cids[scores.argmax(axis=1)]
            return pd.Series(out)

        # asNondeterministic: a downstream filter on the cell column (e.g.
        # the knn_join equi-join's isnotnull) is otherwise pushed below this
        # projection and the optimizer DUPLICATES the UDF — the round-start
        # plan ran the GEMM assignment twice per index row (two
        # ArrowEvalPython nodes; guide §4.4). The function is pure, the
        # marker only pins a single evaluation.
        return e.withColumn("cell", _cell.asNondeterministic()(F.col("v")))
    return e.withColumn("cell", F.greatest(*_scored(cents))["cid"])


def _scored(cents: list[tuple[int, list[float]]]) -> list[Column]:
    """Per centroid, the struct ``(c, nid, cid)`` of entered vectors: ``c``
    the ROUND(cosine, 6) of ``v`` (norm ``nrm``) and the centroid, ``nid``
    = −cid, so the greatest struct (or a descending sort) puts the nearest
    centroid first, ties → lowest centroid id.

    round-8 (guide §4.1/§1.2): the vector's own norm is ONE per-row column
    (it was re-folded once per centroid), each centroid's norm is a
    pre-folded constant (:func:`_norm_py` — same fold order, same bits),
    and the per-centroid dot is the fold :func:`_dot_lit`."""
    v = F.col("v").cast("array<double>")
    return [
        F.struct(
            F.round(_dot_lit(v, cv) / (F.col("nrm") * F.lit(_norm_py(cv))), 6).alias("c"),
            F.lit(-cid).cast("long").alias("nid"),
            F.lit(cid).cast("long").alias("cid"),
        )
        for cid, cv in cents
    ]


def ivf_probe_cells(
    query_vec: list[float], cents: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query (cosine desc, id
    tie-break) — the scan predicate of every IVF probe, shared by the
    in-memory path (:func:`ivf_topk`) and the partition-pruned layout read
    (write the assigned table ``partitionBy('ivf_cell')``, then
    ``read.filter(ivf_cell.isin(ivf_probe_cells(...)))`` lists only these
    nprobe directories — PartitionFilters, the sub-linear claim made
    mechanical)."""
    ranked = sorted(
        cents, key=lambda c: (-round(_cos_py(query_vec, c[1]), 6), c[0])
    )
    return [cid for cid, _ in ranked[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k via IVF: quantize every vector to its nearest sampled
    centroid, probe the ``nprobe`` cells nearest the query, exact-rerank
    by cosine inside them. Deterministic; recall < 1 by design (vectors
    whose cell isn't probed are missed — the nprobe knob)."""
    def probe(e: DataFrame) -> DataFrame:
        cents = _centroids(e, n_cells)
        probes = ivf_probe_cells(query_vec, cents, nprobe)
        return _cells(_normed(e), cents, "literal").filter(F.col("cell").isin(probes))

    return _ranked(df, query_vec, id_col, vec_col, k, probe)


def knn_join(
    queries: DataFrame,
    index: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    exclude_self: bool = False,
    method: str = "literal",
) -> DataFrame:
    """Top-``k`` neighbors from ``index`` for EVERY row of ``queries`` —
    the batch primitive of semantic dedup / retrieval pipelines (the
    single-query :func:`ivf_topk` answers one lookup; this answers all
    of them in one distributed plan).

    Both sides share ONE deterministic IVF quantizer (the ``n_cells``
    lowest-id index vectors): index rows are assigned to their nearest
    cell, each query emits its ``nprobe`` nearest cells (a zero-shuffle
    projection — literal-centroid cosines, ``sort_array`` desc with
    centroid-id tie-break, ``slice``, explode), and candidates meet on
    the cell id in a cogroup — never a cartesian product. Exact cosine
    scoring per cell (:func:`_rerank_cogroup`) and a per-query
    ``row_number ≤ k`` (cosine-desc / neighbor-id tie-break) finish it.

    Scale: candidate volume per query ≈ nprobe · n/n_cells — tune
    ``n_cells`` up with table size so cells stay bounded; the re-rank
    window partitions by query id, so queries spread perfectly. Recall
    < 1 by design (unprobed cells are missed — the nprobe knob).
    ``exclude_self`` drops pairs with equal ids (self-kNN over one
    table). Output schema is FIXED — ``(q_id, nn_id, cosine, rank)`` —
    because self-kNN makes the two input id names collide.

    ``method="broadcast"`` assigns and probes cells by one GEMM per Arrow
    batch against a broadcast centroid matrix (:func:`_cells`,
    :func:`probe_cells_broadcast`) instead of n_cells folds per row — the
    large-n_cells regime; output equality with the literal path is
    fixture-verified (see the summation-order caveat on
    :func:`_round_half_up`)."""
    if nprobe < 1 or nprobe > n_cells:
        raise ValueError(f"need 1 <= nprobe <= n_cells, got {nprobe}")
    # round-8 rerank restructure (guide §4.1, bit-identical): each side's
    # norm is computed ONCE PER ROW before the join (it was re-folded per
    # candidate pair), so the per-pair work is one dot fold; the division
    # keeps the original dot / (na · nb) association.
    index_e = _normed(_aliased(index, {"id": id_col, "v": vec_col}))
    cents = _centroids(index_e, n_cells)
    right = _cells(index_e, cents, method).filter(F.col("cell").isNotNull())
    q = _normed(_aliased(queries, {"id": q_id_col, "v": q_vec_col}))
    if method == "broadcast":
        probes = probe_cells_broadcast(q, F.col("v"), cents, nprobe)
    else:
        probes = F.transform(
            F.slice(F.sort_array(F.array(*_scored(cents)), asc=False), 1, nprobe),
            lambda s: s["cid"],
        )
    # candidates still meet ON THE CELL ID — but as a cogroup, not an
    # equi-join: the join materialized every pair with both vectors and
    # paid an interpreted fold per pair (guide §2.3 "shuffle keys and
    # metadata instead of payloads"); each side now shuffles once and the
    # per-cell Arrow kernel emits only (q_id, nn_id, cosine). Same pair
    # set: inner-join semantics are restored by dropping null cells and
    # by fn returning nothing for one-sided groups; exclude_self applies
    # inside the kernel (identical null-id handling — see _rerank_cogroup).
    left = q.select("id", "v", "nrm", F.explode(probes).alias("cell"))
    scored = _rerank_cogroup(
        left.filter(F.col("cell").isNotNull()), right, len(cents[0][1]), exclude_self,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "nn_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def srp_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str,
    vec_col: str,
    k: int = 10,
    bands: int = 2,
    planes: int = 8,
) -> DataFrame:
    """ANN top-k: prune to vectors sharing ≥1 SRP band bucket with the
    query, exact-rerank by cosine. Deterministic; recall < 1 by design
    (that's the ANN trade-off the bands knob controls)."""
    dims = len(query_vec)
    qb = [srp_bucket_py(query_vec, b, planes) for b in range(bands)]
    v = F.col("v").cast("array<double>")
    cond = None
    for b in range(bands):
        c = srp_bucket(v, dims, b, planes) == F.lit(qb[b])
        cond = c if cond is None else (cond | c)
    return _ranked(df, query_vec, id_col, vec_col, k, lambda e: e.filter(cond))


def quantizer_quality(
    df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]]
) -> float:
    """Mean cosine between each (clean) vector and its assigned centroid —
    the spherical-k-means objective. One broadcast-GEMM assignment + one
    JVM cosine fold against the centroid looked up from a literal map;
    higher is a tighter quantizer (⇒ better recall at a given nprobe)."""
    assigned = _cells(_aliased(df, {"v": vec_col}), cents, "broadcast").filter(
        F.col("cell").isNotNull()
    )
    cmap = F.create_map(
        *[x for cid, cv in cents
          for x in (F.lit(cid), F.array(*[F.lit(v) for v in cv]))]
    )
    cos = cosine(F.col("v").cast("array<double>"), F.element_at(cmap, F.col("cell")))
    return float(assigned.agg(F.avg(cos)).first()[0])


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    n_iter: int = 5,
    sample_every: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) training for the IVF coarse quantizer.

    :func:`ivf_cells`' sampled lowest-id centroids are the deterministic
    oracle-replayable stand-in; this trains REAL centroids from the same
    init, for the regime where recall-per-nprobe matters more than
    cross-engine replay (the round-7 probe measured the untrained
    quantizer at recall@10 = 0.32 with nprobe=1 at n_cells=√n — training
    exists to push that up without probing more cells).

    Per iteration, everything heavy stays distributed and JVM/Arrow-side:

    1. assignment — :func:`assign_cells_broadcast`: one GEMM per Arrow
       batch against the broadcast centroid matrix (no shuffle);
    2. update — per-cell ELEMENT-WISE mean as ``dim`` scalar ``avg``
       aggregates in ONE ``groupBy(cell)`` (map-side combined, one
       vocabulary-sized shuffle of n_cells×dim partial sums — never a
       row-exploding posexplode), then renormalized to unit length
       (spherical k-means: the mean direction is the cosine-optimal
       centroid);
    3. the n_cells×dim result — bounded, centroid-sized — is collected
       and rebroadcast; empty cells keep their previous centroid.

    ``sample_every``: train on the deterministic ``id % k == 0`` subset
    (standard IVF practice — centroids need a sample, not the corpus;
    no RNG, so reruns see the same sample). Iteration count is the only
    other knob: k-means monotonically improves the quantizer objective
    (asserted in tests via :func:`quantizer_quality`).

    Determinism caveat (why this has no DuckDB oracle): the per-cell
    ``avg`` sums floats in partition order, so trained centroids are
    bit-stable only per plan execution, not across engines — the driver
    row for this operator is rows-only by necessity, like the xxhash64
    checkpoints. The QUERY-side structure (quantize → probe → rerank)
    is unchanged and stays fully oracled via the sampled-centroid path.
    """
    base = _aliased(df, {"id": id_col, "v": vec_col})
    if sample_every and sample_every > 1:
        base = base.filter(F.col("id") % sample_every == 0)
    cents = _centroids(base, n_cells)
    dim = len(cents[0][1])
    for _ in range(n_iter):
        assigned = _cells(base, cents, "broadcast").filter(F.col("cell").isNotNull())
        means = assigned.groupBy("cell").agg(
            *(F.avg(F.col("v")[i].cast("double")).alias(f"_c{i}") for i in range(dim)))
        arr = F.array(*[F.col(f"_c{i}") for i in range(dim)])
        nrm = _norm(arr)
        new = {
            int(r["cid"]): [float(x) for x in r["c"]]
            for r in means.select(
                F.col("cell").alias("cid"),
                F.when(nrm > 0, F.transform(arr, lambda x: x / nrm))
                 .alias("c"),
            ).collect()
            if r["c"] is not None
        }
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents
