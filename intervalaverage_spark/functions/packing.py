"""Training-sequence packing: concat-and-chunk documents into
fixed-token-budget sequences.

The step between a curated corpus and a training run: documents, in a
deterministic global order, are concatenated into one token stream and
the stream is cut every ``budget`` tokens (the GPT-style pack — a
document MAY span a chunk boundary; contrast
:func:`~intervalaverage_spark.functions.sharding.assign_shards`, the
greedy never-split variant). The operator answers, per document: which
sequences does it land in, at what offset, and does it straddle a cut?
And per sequence: how many documents and tokens fill it?

Scale shape: the global running token offset reuses the two-phase
distributed prefix sum of ``assign_shards`` (range-repartition →
per-partition window cumsum → one bounded row per partition to the
driver — never a single-task global window; see sharding.py's module
docstring for the frozen-partitioning correctness note). Everything
downstream is arithmetic on that offset — no further shuffle for the
per-doc view; the per-sequence view adds one groupBy(seq) whose
explode fan-out is bounded by ``n_chunks = ceil(total_tokens/budget)``
(a doc explodes into at most ``n_tokens/budget + 1`` rows).

Reference parity context: no counterpart in the reference
(kaufman-lab/intervalaverage) — a web-text training-pipeline extension
(SURVEY.md §2.4). The per-sequence token accounting is interval
arithmetic in token space: a doc's [start, end) clipped against a
sequence's [seq·budget, (seq+1)·budget) is the same clamp the interval
engine runs over time (operators/average.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.sharding import assign_shards
from intervalaverage_spark.functions.textstats import token_count, tokens
from intervalaverage_spark.plans.rangejoin import fdiv
from intervalaverage_spark.validation import _aliased, _no_collision


def _packed(df: DataFrame, id_col: str, text_col: str, budget: int) -> DataFrame:
    """:func:`pack_sequences` with the id column named ``id``."""
    e = _aliased(df, {"id": id_col, "t": text_col})
    with_cum = assign_shards(
        e.select("id", token_count("t").alias("n_tokens")), "id", "n_tokens", budget)
    start = (F.col("cum_weight") - F.col("n_tokens")).alias("start_offset")
    seq_first = F.col("shard").alias("seq_first")  # floor(start/budget)
    seq_last = fdiv(
        F.greatest(F.col("cum_weight") - 1, F.col("cum_weight") - F.col("n_tokens")),
        budget,
    ).alias("seq_last")
    return with_cum.select("id", "n_tokens", start, seq_first, seq_last).withColumn(
        "crosses_boundary", (F.col("seq_last") > F.col("seq_first")))


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
) -> DataFrame:
    """Per-document packing assignment.

    Returns one row per input doc: ``(id, n_tokens, start_offset,
    seq_first, seq_last, crosses_boundary)`` where ``start_offset`` is
    the doc's first token position in the concatenated stream
    (exclusive prefix sum of whitespace token counts in ``id_col``
    order), ``seq_first``/``seq_last`` the first/last sequence ids the
    doc's tokens land in (``floor(start/budget)`` and
    ``floor((end−1)/budget)``; an empty doc sits wholly at its start
    boundary), and ``crosses_boundary`` whether a cut falls inside the
    doc (the tax concat-and-chunk pays vs never-split sharding).
    """
    _no_collision(["n_tokens", "start_offset", "seq_first", "seq_last", "crosses_boundary"],
                  [id_col])
    return _packed(df, id_col, text_col, budget).withColumnRenamed("id", id_col)


def sequence_fill_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
) -> DataFrame:
    """Per-sequence fill accounting for the same pack.

    Explodes each doc to the sequences it touches and clips its token
    interval against each sequence's window — one row per sequence:
    ``(seq, n_docs, n_tokens, fill_fraction)``. Every sequence except
    the last is exactly full by construction (``fill_fraction`` 1.0);
    the tail sequence's fraction is the padding the run would waste.
    """
    _no_collision(["seq", "n_docs", "n_tokens", "fill_fraction"], [id_col])
    seqs = _packed(df, id_col, text_col, budget).filter(F.col("n_tokens") > 0).select(
        "id", "n_tokens", "start_offset",
        F.explode(F.sequence("seq_first", "seq_last")).alias("seq"))
    lo = F.greatest(F.col("start_offset"), F.col("seq") * budget)
    hi = F.least(F.col("start_offset") + F.col("n_tokens"), (F.col("seq") + 1) * budget)
    return (
        seqs.select(F.col("seq"), (hi - lo).alias("__t"), F.col("id"))
        .groupBy("seq")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
        )
        .select(
            "seq",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.lit(float(budget)), 6).alias(
                "fill_fraction"
            ),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Split each document into overlapping fixed-token context windows
    — the PRE-packing training op (:func:`pack_sequences` bins whole
    short sequences; this cuts LONG documents down to model-window
    size first; compose chunk → pack for the full pipeline).

    Chunk starts are ``1, 1+stride, …`` (``stride = chunk_tokens −
    overlap_tokens``) while ``start ≤ max(n − overlap_tokens, 1)`` —
    every chunk past the first begins with the previous chunk's last
    ``overlap_tokens`` tokens, the tail is ALWAYS covered (provable:
    the last start exceeds ``n − overlap − stride``), the final chunk
    may be short, and docs with ≤ ``chunk_tokens`` tokens (including
    empty docs) emit exactly one chunk. Tokens are the engine's
    whitespace tokenizer (functions/textstats.py ``tokens``), so chunk
    text round-trips through the same contract every other text
    operator uses.

    Output: ``(id_col, chunk_id 0-based, start_token 1-based,
    n_tokens, chunk_text)``. Deterministic, all sequence/slice/explode
    expressions — the explode carries only (id, start) pairs and the
    token array is sliced ONCE per chunk row (never a sibling
    re-evaluation of the generator, the measured-90×-slowdown hazard
    documented in dedup.py).

    Scale shape: pure map — no shuffle at all; at 10^12 docs chunking
    fuses into the ingest scan like url normalization (E75).
    """
    if chunk_tokens < 1:
        raise ValueError(
            f"chunk_documents: chunk_tokens must be >= 1, got {chunk_tokens}")
    if not (0 <= overlap_tokens < chunk_tokens):
        raise ValueError(
            "chunk_documents: overlap_tokens must satisfy "
            f"0 <= overlap < chunk_tokens, got {overlap_tokens}")
    _no_collision(["chunk_id", "start_token", "n_tokens", "chunk_text"], [id_col])
    stride = chunk_tokens - overlap_tokens
    toks = tokens("t")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - F.lit(overlap_tokens), F.lit(1)),
        F.lit(stride),
    )
    ex = _aliased(df, {"id": id_col, "t": text_col}).select(
        "id",
        toks.alias("tk"),
        F.posexplode(starts).alias("chunk_id", "start_token"),
    )
    piece = F.slice(F.col("tk"), F.col("start_token"), chunk_tokens)
    return ex.select(
        F.col("id").alias(id_col),
        "chunk_id",
        "start_token",
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )
