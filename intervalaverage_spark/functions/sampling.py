"""Reproducible corpus sampling, train/val/test splits, per-key caps.

The selection steps of a training-data pipeline, built so that ANY engine
reproduces the same decisions bit-for-bit:

* :func:`md5_uniform`          — deterministic uniform in [0, 1) from the
  row's own key (md5 → first 48 bits / 2^48; exact in a double). No RNG,
  no seed state, no partitioning dependence: the sample is a pure
  function of (seed string, key values), so re-runs, retries, engine
  migrations, and the DuckDB oracle all agree.
* :func:`deterministic_sample` — Bernoulli keep iff uniform < rate; rate
  may be a Column for stratified rates (e.g. by language).
* :func:`assign_splits`        — named fractions → a ``split`` label
  column (train/val/test); a document's split never changes when the
  corpus around it grows, the property random_split cannot give you.
* :func:`cap_per_key`          — keep at most n rows per key (the
  per-domain cap of CCNet/RefinedWeb-style curation): n smallest hash
  uniforms (reproducible "random" survivors) or top-n by an explicit
  quality column. ``salt_buckets`` slices a hot key into B hash buckets
  (local top-n per bucket, global top-n over the ≤ B·n survivors) so no
  single task ever scans a whole hot domain.

Scale notes (10^9 docs):
  - sampling/splitting are stateless row-local projections — no shuffle,
    no skew, fully pushed into the scan stage;
  - cap_per_key's flat path is one window (one shuffle on key); the
    salted path is two window passes whose partitions are bounded by
    (hot key's rows / B) and (B · n) respectively — bit-identical output
    (each bucket's global top-n rows survive their own bucket's local
    top-n, so phase 2 sees every global winner).

The reference has no sampling surface (SURVEY.md §2.3) — web-text
pipeline extension (north_rule axes A+B).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.validation import (IntervalSchemaError, _aliased, _no_collision,
                                              _plus, _q, _roles)

#: 2^48 — 12 hex chars of md5; exactly representable in a double, so the
#: division is one rounding step and every engine lands on the same value
_U_DENOM = float(1 << 48)
#: field separator inside the hashed key (unit separator — never in data)
_SEP = "\x1f"


def _md5_48(seed: str, *parts: Column) -> Column:
    """First 48 bits of ``md5(seed ␟ part1 ␟ part2 …)`` as a non-negative
    BIGINT — the one hash of the sampling and sketch functions (the Bloom
    and count-min positions, the HLL register and rank, the uniform here).
    The SQL twin is ``CAST(('0x' || substr(md5(concat_ws(chr(31), seed,
    part…)), 1, 12)) AS BIGINT)``: 48 bits, so positive and exact in every
    engine."""
    h = F.md5(F.concat_ws(_SEP, F.lit(seed), *(p.cast("string") for p in parts)))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long")


def md5_uniform(key_cols: Sequence[str], seed: str = "") -> Column:
    """Deterministic pseudo-uniform in [0, 1): :func:`_md5_48` of the key
    columns divided by 2^48 — exact, as 48 bits < 2^53 are lossless in a
    double and every engine performs the identical single division (the
    SQL twin is ``queries_pipeline._u_sql``)."""
    return _md5_48(seed, *(F.expr(_q(c)) for c in key_cols)).cast("double") / F.lit(_U_DENOM)


def deterministic_sample(
    df: DataFrame,
    rate: float | Column,
    key_cols: Sequence[str],
    seed: str = "",
) -> DataFrame:
    """Keep a row iff its :func:`md5_uniform` < ``rate``.

    ``rate`` may be a Column for stratified sampling (e.g.
    ``F.when(F.col("lang") == "en", 0.05).otherwise(0.5)``) — the
    decision stays a pure row-local function either way. The plan is a
    single Filter over the scan: no shuffle, no RNG, identical output
    under any partitioning, any retry, any engine."""
    if not key_cols:
        raise IntervalSchemaError("key_cols must name at least one column")
    r = rate if isinstance(rate, Column) else F.lit(float(rate))
    return df.filter(md5_uniform(key_cols, seed) < r)


def assign_splits(
    df: DataFrame,
    weights: Mapping[str, float],
    key_cols: Sequence[str],
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Append ``out_col``: the named split whose cumulative-weight
    interval contains the row's :func:`md5_uniform`.

    Weights must be positive and sum to 1 (±1e-9). Insertion order of
    ``weights`` defines the intervals, so ``{"train": .98, "val": .01,
    "test": .01}`` maps u∈[0,.98)→train, [.98,.99)→val, [.99,1)→test —
    stable as the corpus grows (a doc's u never changes), the property
    ``DataFrame.randomSplit`` cannot give you."""
    if not key_cols:
        raise IntervalSchemaError("key_cols must name at least one column")
    if not weights or any(w <= 0 for w in weights.values()):
        raise IntervalSchemaError("weights must be a non-empty map of positives")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise IntervalSchemaError(f"weights must sum to 1, got {total}")
    keys = _roles("x", k=key_cols)
    e, back = _plus(df, keys, [out_col])
    u = md5_uniform(list(keys), seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        case = F.when(u < F.lit(acc), F.lit(name))
        expr = case if expr is None else expr.when(u < F.lit(acc), F.lit(name))
    expr = (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))
    return e.select(*back, expr.alias(out_col))


def leakage_safe_splits(
    clusters: DataFrame,
    weights: Mapping[str, float],
    seed: str = "",
    canonical_col: str = "canonical_id",
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test splits that near-duplicate clusters cannot
    straddle: :func:`assign_splits` keyed on the CLUSTER's canonical id
    instead of the document's own id.

    A doc-keyed split leaks evaluation data through near-duplicates —
    two 0.9-Jaccard copies of one page land in train and test and the
    eval score measures memorization of the duplicate, not
    generalization (the contamination mode the dedup literature warns
    about; see also E42's n-gram decontamination, which guards against
    a KNOWN benchmark rather than the corpus's own duplicates).
    Keying the split hash on ``canonical_col`` (the connected-component
    label from :func:`~intervalaverage_spark.functions.dedup.
    dedup_clusters`) makes straddling structurally impossible: every
    member of a component shares the canonical id, hence the hash
    uniform, hence the split. :func:`split_straddle_pairs` is the audit
    that proves it (and quantifies the naive split's leakage).

    Scale: the split itself is the same stateless row-local projection
    as :func:`assign_splits` — zero shuffle beyond what producing the
    cluster labels already cost; growth-stable (a cluster's split never
    changes as unrelated docs arrive, and new members of an existing
    cluster join its split)."""
    return assign_splits(clusters, weights, [canonical_col],
                         seed=seed, out_col=out_col)


def split_straddle_pairs(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    pair_cols: Sequence[str] = ("id1", "id2"),
    split_col: str = "split",
) -> DataFrame:
    """The leakage audit: near-dup pairs whose endpoints landed in
    DIFFERENT splits. Empty for :func:`leakage_safe_splits` by
    construction; non-empty counts are the contamination a doc-keyed
    split would ship. Returns the offending pairs with both labels.

    Scale: two equi-joins of the pair set (already the small survivor
    of LSH banding) against a 2-column (id, split) projection — both
    sides key-partitioned, no window, no state."""
    a, b = pair_cols
    _no_collision(["split_1", "split_2"], pairs.columns)
    rest = _roles("x", c=[c for c in pairs.columns if c not in (a, b)])
    return (
        _aliased(pairs, {"a": a, "b": b, **rest})
        .join(_aliased(splits, {"a": id_col, "split_1": split_col}), "a")
        .join(_aliased(splits, {"b": id_col, "split_2": split_col}), "b")
        .filter(F.col("split_1") != F.col("split_2"))
        # the column order of the USING joins on a, then b
        .select(F.col("b").alias(b), F.col("a").alias(a),
                *(F.col(x).alias(c) for x, c in rest.items()), "split_1", "split_2")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_cols: Sequence[str],
    group_cols: Sequence[str] | None = None,
    seed: str = "",
    pri_out: str = "sample_priority",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically: keep
    the ``k`` rows (per group) with the largest Efraimidis–Spirakis
    priority ``u^(1/w)`` — selection probability rises with weight
    (exactly weight-proportional for the argmax), the standard
    one-pass weighted reservoir scheme, here with the reservoir
    replaced by a distributed top-k.

    "Sample documents proportional to quality score / token count" —
    the curation step between the uniform cap (:func:`cap_per_key`)
    and the exact stratified budget (:func:`token_mix_sample`).

    Determinism & cross-engine: ``u`` is the same :func:`md5_uniform`
    as every other selection decision; the priority is rounded to 6 dp
    (so a ≤1-ulp ``pow`` divergence between engines cannot reorder)
    and ties break on the hash uniform — the kept set is a pure
    function of (seed, ids, weights). Rows with weight ≤ 0 or NULL are
    excluded (a zero-weight row must never be sampled).

    Scale: priority is a stateless row-local projection; the top-k is
    :func:`cap_per_key`'s one window (its salted hot-key path applies
    when a group skews). No RNG state, no reservoir to shepherd across
    partitions — retries and re-runs select identically."""
    if k < 1:
        raise IntervalSchemaError(f"k must be >= 1, got {k}")
    if not id_cols:
        raise IntervalSchemaError("id_cols must be non-empty")
    keys, ids = _roles("x", g=group_cols or []), _roles("x", i=id_cols)
    e, back = _plus(df, {**keys, **ids, "__w": weight_col}, [pri_out])
    w = F.col("__w")
    pri = F.round(F.pow(md5_uniform(list(ids), seed), F.lit(1.0) / w.cast("double")), 6)
    # single global group: the same plan via a constant key
    pool = e.filter(w.isNotNull() & (w > 0)).select(
        "*", pri.alias("__pri"), *([] if keys else [F.lit(1).alias("__xg")]))
    return _top_n(pool, list(keys) or ["__xg"], k, list(ids), "__pri", True, seed).select(
        *back, F.col("__pri").alias(pri_out))


def token_mix_sample(
    df: DataFrame,
    stratum_col: str,
    targets: Mapping[str, float],
    weight_col: str,
    key_cols: Sequence[str],
    seed: str = "",
    rate_out: str = "mix_rate",
) -> DataFrame:
    """Sample the corpus down to a TARGET TOKEN MIX across strata — the
    data-mixing step of an LLM pipeline ("50 % en, 30 % code, 20 %
    other" by token count, not by document count).

    Given ``targets`` (stratum value → share of the OUTPUT's total
    weight; positive, sum to 1), the largest achievable output budget is
    ``T = min_s actual_s / share_s`` (the binding stratum is taken
    whole; every other stratum is downsampled to match). Each stratum
    then keeps rows with :func:`md5_uniform` < ``rate_s`` where
    ``rate_s = trunc6(share_s · T / actual_s)`` — so the expected output
    weight per stratum is ``share_s · T`` and the mix converges to the
    target by the law of large numbers over documents. Rows whose
    stratum is not in ``targets`` are dropped.

    Determinism & cross-engine: ``actual_s`` is an exact long sum; every
    derived quantity is IEEE double arithmetic in a FIXED parenthesized
    order (``(share·T)/actual``, truncated — not rounded — to 6 dp, so
    no rounding-mode divergence), and the keep decision is the same pure
    md5 arithmetic as :func:`deterministic_sample`. The DuckDB oracle
    replays the whole derivation from the same table (see
    queries_pipeline.py).

    Scale: one groupBy over the stratum column (bounded output — one row
    per stratum, collected driver-side like IVF centroids), then a
    stateless row-local filter — no join, no second shuffle; the rate
    map rides into the scan as a literal when-chain. Appends ``rate_out``
    (the applied per-stratum rate) for auditability."""
    if not key_cols:
        raise IntervalSchemaError("key_cols must name at least one column")
    if not targets or any(w <= 0 for w in targets.values()):
        raise IntervalSchemaError("targets must be a non-empty map of positives")
    total = sum(targets.values())
    if abs(total - 1.0) > 1e-9:
        raise IntervalSchemaError(f"target shares must sum to 1, got {total}")
    keys = _roles("x", k=key_cols)
    e, back = _plus(df, {"s": stratum_col, "w": weight_col, **keys}, [rate_out])
    stratum = F.col("s").cast("string")
    # one bounded row per stratum — driver-side metadata, not a data read
    actual = {
        r["s"]: int(r["w"])
        for r in e.groupBy(stratum.alias("s"))
        .agg(F.sum(F.col("w").cast("long")).alias("w"))
        .collect()
        if r["s"] in targets
    }
    missing = [s for s in targets if actual.get(s, 0) <= 0]
    if missing:
        raise IntervalSchemaError(
            f"target strata with no weight in the data: {missing}")
    budget = min(actual[s] / targets[s] for s in targets)
    rates = {
        # trunc6 of (share·T)/actual — fixed order, replayed in the oracle
        s: int((targets[s] * budget) / actual[s] * 1_000_000) / 1_000_000
        for s in targets
    }
    rate = None
    for s, r in rates.items():
        case = (stratum == s, F.lit(r))
        rate = F.when(*case) if rate is None else rate.when(*case)
    rate = rate.otherwise(F.lit(None).cast("double"))
    u = md5_uniform(list(keys), seed)
    return (
        e.select("*", rate.alias("rate"))
        .filter(F.col("rate").isNotNull() & (u < F.col("rate")))
        .select(*back, F.col("rate").alias(rate_out))
    )


def cap_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    n: int,
    id_cols: Sequence[str],
    order_col: str | None = None,
    descending: bool = True,
    seed: str = "",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per ``key_cols`` group, deterministically.

    Survivor order: ``order_col`` (quality score; ``descending=True``
    keeps the n best) when given, else the rows with the n smallest
    :func:`md5_uniform` over ``id_cols`` — a reproducible "random" cap.
    Either way the hash uniform over ``id_cols`` breaks ties, so the
    kept set is unique whenever ``id_cols`` identify rows.

    ``salt_buckets=B`` runs the two-phase hot-key path: local top-n per
    (key, xxhash64(id) % B) — a hot domain's rows spread over B tasks —
    then global top-n over the ≤ B·n survivors per key. Bit-identical to
    the flat path: every global top-n row is in its own bucket's local
    top-n, so phase 2 ranks a superset of the winners."""
    if not key_cols or not id_cols:
        raise IntervalSchemaError("key_cols and id_cols must be non-empty")
    if n < 1:
        raise IntervalSchemaError(f"n must be >= 1, got {n}")
    if salt_buckets is not None and salt_buckets < 1:
        raise IntervalSchemaError(f"salt_buckets must be >= 1, got {salt_buckets}")
    keys, ids = _roles("x", g=key_cols), _roles("x", i=id_cols)
    order = {"__xo": order_col} if order_col is not None else {}
    e, back = _plus(df, {**keys, **ids, **order}, [])
    return _top_n(e, list(keys), n, list(ids), "__xo" if order else None, descending, seed,
                  salt_buckets).select(*back)


def _top_n(df: DataFrame, keys: list[str], n: int, ids: list[str], order_col: str | None,
           descending: bool, seed: str, salt_buckets: int | None = None) -> DataFrame:
    """:func:`cap_per_key` over the internal names ``keys``, ``ids`` and
    ``order_col`` of ``df``: its rows that survive, with every column."""
    u = md5_uniform(ids, seed)
    order = [u.asc()]
    if order_col is not None:
        lead = F.col(order_col).desc() if descending else F.col(order_col).asc()
        order = [lead, u.asc()]

    def topn(frame: DataFrame, part: list[str]) -> DataFrame:
        w = Window.partitionBy(*part).orderBy(*order)
        return (
            frame.select("*", F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") <= n)
            .drop("__rn")
        )

    if salt_buckets is None:
        return topn(df, keys)
    bucket = F.pmod(F.xxhash64(*map(F.col, ids)), F.lit(int(salt_buckets)))
    local = topn(df.withColumn("__cpk_b", bucket), [*keys, "__cpk_b"])
    return topn(local, keys)
