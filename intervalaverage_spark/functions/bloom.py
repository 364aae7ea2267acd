"""Bloom-filter corpus membership: constant-size exact-dedup sketch.

The ingest-side question at 100 TB is "have I EVER stored this
fingerprint?" — answered here without joining the delta against the
corpus. A Bloom filter over the corpus's keys is built ONCE as a
distributed bitset, then every probe is a broadcast lookup:

* :func:`bloom_build`  — corpus keys → a word-level bitset RELATION
  ``(word_idx, word)``: each key sets ``k`` md5-derived bit positions;
  positions fold into 32-bit words via a map-side-combined ``bit_or``
  aggregate. The relation has at most ``m_bits/32`` rows NO MATTER HOW
  BIG THE CORPUS IS — that bound, not the corpus, is what ships.
* :func:`bloom_probe`  — the JOIN path: delta keys re-derive their
  ``k`` positions, equi-join the word relation on ``word_idx``, and a
  key is ``maybe_present`` iff ALL ``k`` probed bits are set. Pure
  integer/bit arithmetic end to end, so the DuckDB oracle replays it
  bit-for-bit (no float rounding anywhere).
* :func:`bloom_probe_broadcast` — the SCALE path: the bounded word
  relation collapses to one numpy array (``m_bits/8`` bytes — 2 MiB
  for m=2^24), broadcast to every executor; positions are still
  derived JVM-side and only the array indexing runs in an
  Arrow-batched pandas UDF. Zero shuffle on the delta. EXACTLY equal
  to the join path (bit ops have no summation-order or rounding
  freedom — contrast the fixture-verified ANN GEMM equality).

Contract: ``maybe_present = False`` ⟹ definitely new (no false
negatives — the dedup-safe direction: a "new" verdict can never drop a
duplicate check that mattered); ``True`` ⟹ present OR a false
positive at rate ≈ ``(1 − e^{−k·n/m})^k`` (:func:`bloom_fp_theory`),
so positives route to the authoritative (expensive) check — e.g. the
E39 incremental LSH index probe — and the filter's job is to spare the
~(1−fp) of traffic that is genuinely new.

Determinism: positions are ``md5(seed ␟ i ␟ key)`` first-48-bits mod
``m_bits`` — the same engine-portable md5 arithmetic as
:func:`~intervalaverage_spark.functions.sampling.md5_uniform`; no RNG,
no partitioning dependence, identical in Spark, DuckDB, and the numpy
probe.

Scale notes (10^9 keys):
  - build: one shuffle of ``(word_idx, mask)`` pairs with map-side
    ``bit_or`` combine — each task emits at most ``m_bits/32`` rows
    regardless of its input size (the same vocabulary-bound argument
    as E50's term stats);
  - probe (broadcast): stateless scan-level projection + one pandas
    UDF batch lookup — the delta never shuffles;
  - probe (join): k·delta rows equi-join ≤ m_bits/32 words — the word
    side is broadcast-sized by construction.

The reference has no sketch surface (SURVEY.md §2.3) — web-text
pipeline extension (north_rule axes A+B).
"""

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.sampling import _md5_48
from intervalaverage_spark.validation import IntervalSchemaError, _aliased, _plus

#: word width in bits — 32 so ``1 << (pos % 32)`` stays far from BIGINT
#: sign trouble in every engine (DuckDB, Spark, numpy int64)
WORD_BITS = 32
#: select items of bit position ``p``'s word and its bit in that word
_WORD_MASK = (f"CAST(p / {WORD_BITS} AS BIGINT) AS word_idx",
              f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT)) AS mask")


def _check(m_bits: int, k: int) -> None:
    if m_bits < WORD_BITS or m_bits % WORD_BITS != 0:
        raise IntervalSchemaError(
            f"m_bits must be a positive multiple of {WORD_BITS}, got {m_bits}")
    if not 1 <= k <= 16:
        raise IntervalSchemaError(f"k must be in [1, 16], got {k}")


def bit_position(key: Column, i: int, m_bits: int, seed: str = "") -> Column:
    """Bit position of hash ``i`` for ``key``: first 48 bits of
    ``md5(seed ␟ i ␟ key)`` (:func:`_md5_48`) mod ``m_bits``. The 48-bit
    value is positive, so plain ``%`` matches every engine."""
    return _md5_48(seed, F.lit(str(i)), key) % F.lit(int(m_bits))


def _positions(m_bits: int, k: int, seed: str) -> Column:
    """The array of the ``k`` bit positions of the entered column ``key``."""
    return F.array(*(bit_position(F.col("key"), i, m_bits, seed) for i in range(k)))


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int,
    k: int,
    seed: str = "",
) -> DataFrame:
    """Build the filter: ``(word_idx, word)`` with every key's ``k``
    bit positions OR-folded into 32-bit words. ≤ ``m_bits/32`` rows.
    OR is idempotent, so duplicate keys and position collisions need no
    pre-``distinct`` — the ``bit_or`` groupBy absorbs them map-side."""
    _check(m_bits, k)
    return (
        _aliased(df, {"key": key_col})
        .select(F.explode(_positions(m_bits, k, seed)).alias("p"))
        .selectExpr(*_WORD_MASK)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    delta: DataFrame,
    key_col: str,
    words: DataFrame,
    m_bits: int,
    k: int,
    seed: str = "",
    out_col: str = "maybe_present",
) -> DataFrame:
    """JOIN-path probe: append ``out_col`` — True iff ALL ``k`` of the
    key's bits are set in ``words``. The oracle-replayable reference
    semantics; :func:`bloom_probe_broadcast` must equal it exactly. The
    key column comes first, as in a join using it."""
    _check(m_bits, k)
    e, back = _plus(delta, {"key": key_col}, [out_col])
    probes = (
        e.select("key").distinct()
        .select("key", F.explode(_positions(m_bits, k, seed)).alias("p"))
        .selectExpr("key", *_WORD_MASK)
    )
    hit = (F.col("word").isNotNull()
           & (F.col("word").bitwiseAND(F.col("mask")) != 0))
    verdict = (
        probes.join(F.broadcast(words), "word_idx", "left")
        .groupBy("key")
        .agg((F.sum(hit.cast("int")) == F.lit(k)).alias("hit"))
    )
    j = delta.columns.index(key_col)
    return e.join(verdict, "key", "left").select(
        F.col("key").alias(key_col), *back[:j], *back[j + 1:], F.col("hit").alias(out_col))


def bloom_words_to_array(words: DataFrame, m_bits: int):
    """Collapse the word relation into one numpy int64 array of length
    ``m_bits/32`` — the broadcastable form. The collect is bounded by
    the FILTER size (2 MiB at m=2^24), never the corpus: same class as
    the IVF centroid collect."""
    _check(m_bits, 1)
    arr = np.zeros(m_bits // WORD_BITS, dtype=np.int64)
    for r in words.collect():
        arr[int(r["word_idx"])] = int(r["word"])
    return arr


def bloom_probe_broadcast(
    delta: DataFrame,
    key_col: str,
    words_arr,
    m_bits: int,
    k: int,
    seed: str = "",
    out_col: str = "maybe_present",
) -> DataFrame:
    """SCALE-path probe: the packed bitset rides to executors as a
    Spark broadcast; positions are derived JVM-side (the identical md5
    expressions as the join path) and ONLY the array lookup runs in an
    Arrow-batched pandas UDF (pure vectorized numpy — no per-row
    Python, no md5 in Python). Zero shuffle on the delta. Bit-exact
    equal to :func:`bloom_probe` (integer ops only)."""
    from pyspark.sql.functions import pandas_udf

    _check(m_bits, k)
    expected = m_bits // WORD_BITS
    if len(words_arr) != expected:
        raise IntervalSchemaError(
            f"words_arr has {len(words_arr)} words, expected {expected}")
    e, back = _plus(delta, {"key": key_col}, [out_col])
    bc = delta.sparkSession.sparkContext.broadcast(np.asarray(words_arr, dtype=np.int64))

    @pandas_udf("boolean")
    def _probe(positions: pd.Series) -> pd.Series:
        w = bc.value
        out = np.ones(len(positions), dtype=bool)
        if len(positions):
            # (batch, k) position matrix — one gather + mask test per hash
            mat = np.stack(positions.to_numpy())
            for j in range(mat.shape[1]):
                p = mat[:, j]
                out &= (w[p // WORD_BITS]
                        & (np.int64(1) << (p % WORD_BITS))) != 0
        return pd.Series(out)

    # asNondeterministic: pure, like ann's broadcast UDFs; the marker only
    # pins a single evaluation under downstream filters
    return e.select(*back, _probe.asNondeterministic()(_positions(m_bits, k, seed)).alias(out_col))


def bloom_fp_theory(n_keys: int, m_bits: int, k: int) -> float:
    """Textbook false-positive rate ``(1 − e^{−k·n/m})^k`` — what the
    tests hold the measured rate against."""
    return (1.0 - math.exp(-k * n_keys / m_bits)) ** k
